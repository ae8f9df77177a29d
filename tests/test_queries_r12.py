"""Round-12 surface: eTLD+1 quota, single-batch drain invariant for the
streaming URL dedup oracle, corpus_shuffle pin passthrough, and the
sha2 paragraph-dedup key."""

from __future__ import annotations

from pyspark.sql import functions as F

from bcg_contacts_data_pipeline_spark.operators.pins import PinScope
from bcg_contacts_data_pipeline_spark.plans.queries import QUERIES

SF_SMALL = "/root/testdata/sf0.001"
SF_MED = "/root/testdata/sf0.01"


def test_etld1_quota_separates_cctld_registrants(spark):
    """The heuristic failure the query exists to certify: .co.uk /
    .com.au / .github.io registrants must land in SEPARATE quota
    buckets (44 domains = 11 sites x 4 suffix classes), never one
    bucket per suffix."""
    out = QUERIES["etld1_quota_sample"](spark, SF_SMALL).collect()
    domains = {r["domain"] for r in out}
    assert len(domains) == 44, sorted(domains)
    for suffix in ("org", "co.uk", "com.au", "github.io"):
        got = {d for d in domains if d.endswith("." + suffix)}
        assert len(got) == 11, (suffix, sorted(got))
        # the collapsed bucket the 2-label heuristic would produce
        assert suffix not in domains
    # the quota never exceeds the cap
    for r in out:
        assert r["n_kept"] <= 8
        assert r["n_kept"] <= r["n_docs"]


def test_events_stream_drains_in_one_micro_batch(spark):
    """stream_url_dedup's global-DISTINCT oracle is equivalent to
    dropDuplicatesWithinWatermark ONLY because the finite events fixture
    drains in a single AvailableNow micro-batch (no watermark state
    expires mid-stream, so nothing can re-emit). events_stream sets no
    maxFilesPerTrigger, so the whole table is one batch; this test pins
    that invariant at the certification SF — if the events table ever
    becomes multi-file or a trigger cap is added, this fails before the
    certification silently weakens (ADVICE r11)."""
    import tempfile

    from bcg_contacts_data_pipeline_spark import streaming as S

    st = S.events_stream(spark, SF_MED).select("event_id")
    with tempfile.TemporaryDirectory() as ckpt:
        q = (
            st.writeStream.format("noop")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(120)
        data_batches = [
            p for p in q.recentProgress if p["numInputRows"] > 0
        ]
    assert len(data_batches) == 1, [
        (p["batchId"], p["numInputRows"]) for p in q.recentProgress
    ]


def test_corpus_shuffle_forwards_pins(spark):
    """ADVICE r11: q_corpus_shuffle's load-bearing renumber persist
    registers in the caller's open PinScope, so long-lived sessions
    release it without clearCache()."""
    with PinScope() as scope:
        out = QUERIES["corpus_shuffle"](spark, SF_SMALL)
        n = out.count()
        assert len(scope) == 1
        pinned = scope._frames[0][0]
        assert pinned.storageLevel.useMemory or pinned.storageLevel.useDisk
    assert n > 0
    lvl = pinned.storageLevel
    assert not (lvl.useMemory or lvl.useDisk), lvl


def test_paragraph_dedup_groups_by_sha2_not_md5(spark):
    """ADVICE r11: the paragraph grouping key (the equality decision)
    is sha2-256 — md5 collisions are constructible on adversarial crawl
    input. Pin the key choice via the optimized plan."""
    from bcg_contacts_data_pipeline_spark.operators.dedup import (
        paragraph_dedup,
    )

    df = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "alpha beta gamma")],
        "doc_id long, text string",
    )
    out = paragraph_dedup(df, "doc_id", "text", words_per_para=2)
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "sha2" in plan
    assert "md5" not in plan
    rows = {r["doc_id"]: r for r in out.collect()}
    assert rows[1]["paras_kept"] == 2 and rows[2]["paras_kept"] == 0


def test_semantic_dedup_drops_copies_keeps_originals(spark):
    """The constructed-duplicate contract: id-offset copies (exact
    1.0 cosine to a lower-id member) drop; originals (no prior near
    the threshold) keep."""
    out = QUERIES["semantic_dedup"](spark, SF_SMALL).collect()
    OFF = 1 << 40
    for r in out:
        if r["vec_id"] >= OFF:
            assert not r["keep"], r
            assert abs(r["max_prior"] - 1.0) < 1e-9, r
        else:
            assert r["keep"], r
            assert r["max_prior"] < 0.8, r


def test_semantic_dedup_cap_idle_is_bit_identical(spark):
    """The rep-cap twin contract (ann_lsh_capped recipe): with the cap
    above the largest cluster, capped output is BIT-identical to
    uncapped."""
    from bcg_contacts_data_pipeline_spark.operators.similarity import (
        semantic_dedup,
    )

    emb = spark.read.parquet(f"{SF_SMALL}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    a = semantic_dedup(emb, "vec_id", "embedding", n_clusters=4).collect()
    b = semantic_dedup(
        emb, "vec_id", "embedding", n_clusters=4, max_cluster=100_000
    ).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_semantic_dedup_cap_engaged_exact_for_clones(spark):
    """When a cluster overflows the cap, members score against only the
    cap smallest-id members — still EXACT for clone families (any
    clone's original sorts into the base and scores 1.0), so every
    clone past the first is dropped."""
    import numpy as np

    from bcg_contacts_data_pipeline_spark.operators.similarity import (
        semantic_dedup,
    )

    rng = np.random.default_rng(7)
    protos = rng.normal(size=(3, 16)).astype("float32")
    rows = []
    for i in range(60):
        v = protos[0] if i < 40 else protos[1 + (i % 2)]
        rows.append((i, [float(x) for x in v]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = {
        r["vec_id"]: r
        for r in semantic_dedup(
            df, "vec_id", "embedding", n_clusters=2, max_cluster=5
        ).collect()
    }
    # clone family of proto 0 = ids 0..39, far over the cap of 5:
    # id 0 keeps, every other clone sees id 0 in the base and drops
    assert out[0]["keep"]
    for i in range(1, 40):
        assert not out[i]["keep"], (i, out[i])
        assert abs(out[i]["max_prior"] - 1.0) < 1e-9


def test_url_frontier_delta_filters_rediscoveries(spark):
    """Frontier semantics: only rid%6==0 resources are NEW (rid%6==2
    discoveries already sit in the rid%3!=0 history); each new resource
    yields its base canonical (4 alias discoveries) and its
    sorted-query canonical (1 discovery)."""
    import re

    out = QUERIES["url_frontier_delta"](spark, SF_SMALL).collect()
    assert out
    for r in out:
        m = re.search(r"/page/(\d+)", r["canonical_url"])
        rid = int(m.group(1))
        assert rid % 6 == 0, r
        if r["canonical_url"].endswith("?a=1&b=2"):
            assert r["n_discoveries"] == 1, r
        else:
            # base canonical: alias classes 0-3 (class 4 keeps its query);
            # the table edge may truncate the last resource's alias run
            assert 1 <= r["n_discoveries"] <= 4, r
            if r["n_discoveries"] == 4:
                assert r["first_event"] == 5 * rid, r


def test_quality_calibration_bins_are_complete_and_bounded(spark):
    out = QUERIES["quality_calibration"](spark, SF_SMALL).collect()
    n_docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet").count()
    assert sum(r["n_docs"] for r in out) == n_docs
    for r in out:
        assert 0 <= r["bin"] <= 9
        assert 0.0 <= r["frac_en"] <= 1.0
        assert 0.0 <= r["avg_quality"] <= 1.0
        # the bin's mean score sits inside the bin's score range
        assert r["bin"] / 10 <= r["avg_quality"] <= (r["bin"] + 1) / 10


def test_semantic_dedup_blas_kernel_matches_fold(spark):
    """The production kernel (exact_fold=False, BLAS matmul) must agree
    with the certified fold kernel within float ulps: identical
    clusters and keep decisions, max_prior equal to 1e-12."""
    from bcg_contacts_data_pipeline_spark.operators.similarity import (
        semantic_dedup,
    )

    emb = spark.read.parquet(f"{SF_SMALL}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    fold = {
        r["vec_id"]: r
        for r in semantic_dedup(emb, "vec_id", "embedding", n_clusters=4).collect()
    }
    blas = {
        r["vec_id"]: r
        for r in semantic_dedup(
            emb, "vec_id", "embedding", n_clusters=4, exact_fold=False
        ).collect()
    }
    assert fold.keys() == blas.keys()
    for k in fold:
        assert fold[k]["cluster"] == blas[k]["cluster"], k
        assert fold[k]["keep"] == blas[k]["keep"], k
        assert abs(fold[k]["max_prior"] - blas[k]["max_prior"]) < 1e-12, k
