"""Similarity operator tests: jaccard, minhash-LSH, simhash, embedding ANN."""

from __future__ import annotations

import random

from bcg_contacts_data_pipeline_spark.operators import similarity as S


def doc_corpus(spark):
    rng = random.Random(11)
    vocab = [f"w{i}" for i in range(50)]
    base = " ".join(rng.choice(vocab) for _ in range(60))
    near = base.rsplit(" ", 6)[0] + " zz yy xx ww vv uu"  # ~90% shared prefix
    other = " ".join(rng.choice(vocab) for _ in range(60))
    return spark.createDataFrame(
        [(1, base), (2, near), (3, other), (4, base)],  # 4 = exact dup of 1
        "doc_id long, text string",
    )


def test_ngram_jaccard_exact(spark):
    df = doc_corpus(spark)
    out = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in S.ngram_jaccard_pairs(df, "doc_id", "text", threshold=0.3).collect()
    }
    assert out[(1, 4)] == 1.0
    assert 0.5 < out[(1, 2)] < 1.0
    assert (1, 3) not in out


def test_ngram_hashes_short_arrays_and_windows(spark):
    """A token-hash array shorter than n gives [] (``sequence(1, 0)``
    counts down to ``[1, 0]``, so the size guard is load-bearing), and
    a 4-token array gives its two positional window hashes, equal to
    the hand-built ``xxhash64(element_at ...)`` composition."""
    from pyspark.sql import functions as F

    from bcg_contacts_data_pipeline_spark.functions.text import ngram_hashes

    df = spark.createDataFrame(
        [(1, []), (2, [11, 12]), (3, [11, 12, 13, 14])],
        "id long, th array<bigint>",
    )
    got = {
        r["id"]: r["g"]
        for r in df.select("id", ngram_hashes(F.col("th"), 3).alias("g")).collect()
    }
    assert got[1] == [] and got[2] == []
    th = F.col("th")
    by_hand = F.array(
        *[F.xxhash64(*[F.element_at(th, F.lit(i + j)) for j in range(3)]) for i in (1, 2)]
    )
    (want,) = df.filter("id = 3").select(by_hand.alias("w")).first()
    assert got[3] == want and len(set(want)) == 2


def test_minhash_lsh_finds_near_dups(spark):
    df = doc_corpus(spark)
    pairs = {
        (r["id_a"], r["id_b"]): r["est_jaccard"]
        for r in S.minhash_lsh_pairs(
            df, "doc_id", "text", verify_threshold=0.3
        ).collect()
    }
    assert pairs[(1, 4)] == 1.0  # identical docs: all signatures agree
    assert (1, 2) in pairs  # near-dup caught by banding
    assert (1, 3) not in pairs


def test_simhash_near_dups(spark):
    df = doc_corpus(spark)
    sims = {r["doc_id"]: r["simhash"] for r in S.simhash64(df, "doc_id", "text").collect()}

    def ham(a, b):
        return bin((sims[a] ^ sims[b]) & ((1 << 64) - 1)).count("1")

    assert ham(1, 4) == 0  # identical docs -> identical simhash
    assert ham(1, 2) < ham(1, 3)  # near-dup closer than unrelated
    # pair generation finds the exact dup via quarter banding
    pairs = {(r["id_a"], r["id_b"]) for r in S.simhash_pairs(df, "doc_id", "text", max_hamming=4).collect()}
    assert (1, 4) in pairs


def vec_corpus(spark):
    rows = [
        (1, [1.0, 0.0, 0.0, 0.0]),
        (2, [0.99, 0.1, 0.0, 0.0]),   # near 1
        (3, [0.0, 1.0, 0.0, 0.0]),    # orthogonal to 1
        (4, [-1.0, 0.0, 0.0, 0.0]),   # opposite of 1
        (5, [0.98, 0.15, 0.01, 0.0]),
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_embedding_topk_exact(spark):
    df = vec_corpus(spark)
    out = {
        (r["query_id"], r["rank"]): r["neighbor_id"]
        for r in S.embedding_topk(df, "vec_id", "embedding", k=2).collect()
    }
    assert out[(1, 1)] == 2
    assert out[(1, 2)] == 5
    assert out[(4, 1)] == 3  # orthogonal (cos 0) beats anti-parallel vectors


def test_embedding_ann_lsh_same_bucket_for_identical(spark):
    rows = [(i, [float(i % 3), 1.0, 0.5, -0.25]) for i in range(9)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = S.embedding_ann_lsh(df, "vec_id", "embedding", dim=4, k=3, num_planes=4)
    got = {(r["query_id"], r["neighbor_id"]) for r in out.collect()}
    # identical vectors always share a bucket -> found as top neighbors
    assert (0, 3) in got or (0, 6) in got


def test_embedding_ann_lsh_plan_has_no_pair_join(spark):
    """VERDICT r02 #2: in-bucket scoring must be a per-bucket cogrouped
    matmul, not a bucket self-join that ships every candidate pair with
    both vectors attached. The physical plan must contain no join at all
    — the only shuffle is the groupBy(bucket) exchange feeding
    FlatMapGroupsInPandas."""
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    out = S.embedding_ann_lsh(emb, "vec_id", "embedding", dim=64, k=5, num_planes=6)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan, plan
    assert "FlatMapGroupsInPandas" in plan, plan
    # exactly one exchange: the bucket groupBy (plus nothing downstream —
    # rank is computed inside the group, so no window shuffle either)
    assert plan.count("Exchange") == 1, plan
    assert "Window" not in plan, plan


def test_lsh_num_planes_formula():
    # toy corpora never drop below one plane
    assert S.lsh_num_planes(10) == 1
    # a corpus of 2^20 rows at the 4096 default -> 256 buckets
    assert S.lsh_num_planes(1 << 20) == 8
    # 10^9 rows -> 18 planes (~262k buckets, ~4k expected occupancy)
    assert S.lsh_num_planes(1_000_000_000) == 18
    # clamped: plane count never exceeds 30 (bucket key stays a long)
    assert S.lsh_num_planes(1 << 62) == 30


def test_embedding_ann_lsh_auto_planes(spark):
    """num_planes='auto' (the default) derives the plane count from a
    corpus count and still returns ranked neighbors for every query."""
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    out = S.embedding_ann_lsh(emb, "vec_id", "embedding", dim=64, k=3)
    rows = out.collect()
    assert rows, "auto-planes output empty"
    # 500 rows / 4096 target -> 1 plane -> 2 buckets -> everyone has neighbors
    assert len({r["query_id"] for r in rows}) == emb.count()
    assert all(1 <= r["rank"] <= 3 for r in rows)


def test_embedding_ann_ivf_recall(spark):
    from bcg_contacts_data_pipeline_spark.operators.similarity import (
        embedding_ann_ivf,
        embedding_topk,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    exact = {
        (r.query_id, r.neighbor_id)
        for r in embedding_topk(emb, "vec_id", "embedding", k=5).collect()
    }
    approx = {
        (r.query_id, r.neighbor_id)
        for r in embedding_ann_ivf(
            emb, "vec_id", "embedding", n_centroids=8, n_probe=4, k=5
        ).collect()
    }
    # probing half the cells must recover a solid fraction of true top-5
    recall = len(exact & approx) / len(exact)
    assert recall > 0.5, recall
    # every query got answers
    assert len({q for q, _ in approx}) == emb.count()


def test_embedding_neardup_blocked_exact(spark):
    df = vec_corpus(spark)
    out = {
        r["doc_id"]: (r["canonical_id"], r["is_duplicate"])
        for r in S.embedding_neardup(df, "vec_id", "embedding", threshold=0.95).collect()
    }
    # 2 and 5 are near 1 (cos > 0.95); 1, 3, 4 are their own canonicals
    assert out[1] == (1, False)
    assert out[2] == (1, True)
    assert out[5] == (1, True)
    assert out[3] == (3, False)
    assert out[4] == (4, False)


def test_corpus_embedding_ops_never_collect_on_driver(spark, monkeypatch):
    """VERDICT r01 #1: the all-pairs paths of embedding_topk /
    embedding_neardup must not materialize the corpus on the driver.
    Patch DataFrame.collect to explode; build AND execute both ops."""
    from pyspark.sql import DataFrame

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")

    def boom(self, *a, **kw):
        raise AssertionError("driver-side collect() on an all-pairs corpus path")

    monkeypatch.setattr(DataFrame, "collect", boom)
    assert S.embedding_topk(emb, "vec_id", "embedding", k=3).count() > 0
    assert (
        S.embedding_neardup(emb, "vec_id", "embedding", threshold=0.8).count()
        == emb.count()
    )


def test_minhash_lsh_join_cross_corpus(spark):
    """Cross-frame LSH join: identical and near-identical docs across
    frames are flagged; unrelated docs are not."""
    from bcg_contacts_data_pipeline_spark.operators.similarity import (
        minhash_lsh_join,
    )

    base = "the quick brown fox jumps over the lazy dog again and again today"
    train = spark.createDataFrame(
        [
            (1, base),                                  # exact leak
            (2, base.replace("today", "tonight")),       # near leak
            (3, "completely unrelated text about spark distributed joins ok"),
        ],
        "doc_id long, text string",
    )
    evalset = spark.createDataFrame([(100, base)], "eval_id long, text string")
    got = minhash_lsh_join(
        train, "doc_id", "text", evalset, "eval_id", "text",
        verify_threshold=0.5,
    ).collect()
    flagged = {r.id_a for r in got}
    assert 1 in flagged, got
    assert 3 not in flagged, got
    exact = [r for r in got if r.id_a == 1][0]
    assert exact.est_jaccard == 1.0
    near = [r for r in got if r.id_a == 2]
    if near:  # near-dup flagged iff enough signature agreement — if
        # flagged, the estimate must reflect high (not total) similarity
        assert 0.5 <= near[0].est_jaccard < 1.0


def test_embedding_pairs_direct_consumption(spark):
    """Regression: both cogroup sides descend from the same frame, and a
    self-cogroup with shared attribute ids can lose the right side's
    non-key columns to analyzer dedup when the pair set is consumed
    directly (not via the neardup join). The pairs must be countable
    bare, and the distinct pair set must match brute force."""
    import math

    from pyspark.sql import Row

    from bcg_contacts_data_pipeline_spark.operators.similarity import (
        embedding_pairs,
    )

    vecs = {
        1: [1.0, 0.0],
        2: [0.999, 0.01],  # ~1
        3: [0.0, 1.0],
        4: [0.01, 0.999],  # ~3
        5: [0.7071, 0.7071],  # between
    }
    df = spark.createDataFrame(
        [Row(vec_id=k, embedding=v) for k, v in vecs.items()]
    )
    got = {
        (r.id_a, r.id_b)
        for r in embedding_pairs(
            df, "vec_id", "embedding", threshold=0.95, corpus_blocks=3
        ).collect()
    }

    def cos(a, b):
        dot = sum(x * y for x, y in zip(a, b))
        return dot / (
            math.sqrt(sum(x * x for x in a)) * math.sqrt(sum(y * y for y in b))
        )

    want = {
        (a, b)
        for a in vecs
        for b in vecs
        if a < b and cos(vecs[a], vecs[b]) >= 0.95
    }
    assert got == want
    assert want  # the fixture must actually produce pairs


def test_embedding_components_transitive_closure(spark):
    """A~B and B~C with A!~C must land all three in ONE component — the
    property the greedy neardup canonicalization cannot express."""
    from pyspark.sql import Row

    from bcg_contacts_data_pipeline_spark.operators.graph import (
        connected_components,
    )
    from bcg_contacts_data_pipeline_spark.operators.similarity import (
        embedding_pairs,
    )

    # chain: each ~20 degrees apart; cos(20deg)=0.94 > 0.9, cos(40deg)=0.77 < 0.9
    import math

    def v(deg):
        return [math.cos(math.radians(deg)), math.sin(math.radians(deg))]

    df = spark.createDataFrame(
        [
            Row(vec_id=1, embedding=v(0)),
            Row(vec_id=2, embedding=v(20)),
            Row(vec_id=3, embedding=v(40)),
            Row(vec_id=9, embedding=v(180)),  # isolated
        ]
    )
    pairs = embedding_pairs(df, "vec_id", "embedding", 0.9, corpus_blocks=2)
    comp = connected_components(pairs, "id_a", "id_b", nodes=df, node_col="vec_id")
    labels = {r.node: r.comp for r in comp.collect()}
    assert labels == {1: 1, 2: 1, 3: 1, 9: 9}


def test_ann_components_refine_exact_components(spark):
    """Every LSH-banded edge is also an exact edge (same threshold,
    bucket restriction only PRUNES pairs), so the ANN clustering must be
    a REFINEMENT of the exact clustering: each ANN component sits wholly
    inside one exact component. Identical vectors share every sign bit,
    so exact-duplicate pairs survive any plane count."""
    from bcg_contacts_data_pipeline_spark.operators.graph import (
        connected_components,
    )
    from bcg_contacts_data_pipeline_spark.operators.similarity import (
        embedding_pairs,
        embedding_pairs_lsh,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    exact = {
        r.node: r.comp
        for r in connected_components(
            embedding_pairs(emb, "vec_id", "embedding", 0.35),
            nodes=emb,
            node_col="vec_id",
        ).collect()
    }
    ann = {
        r.node: r.comp
        for r in connected_components(
            embedding_pairs_lsh(
                emb, "vec_id", "embedding", dim=64, threshold=0.35, num_planes=4
            ),
            nodes=emb,
            node_col="vec_id",
        ).collect()
    }
    assert set(ann) == set(exact)
    # refinement: nodes sharing an ANN label share the exact label
    by_ann: dict = {}
    for node, lab in ann.items():
        by_ann.setdefault(lab, set()).add(exact[node])
    assert all(len(v) == 1 for v in by_ann.values())


def test_fuzzy_pairs_blocked_finds_typos_within_blocks(spark):
    """Levenshtein linkage: in-block typo pairs found, cross-block twins
    missed by design (the documented blocking recall trade), and the
    max_block cap drops an oversized bucket before the join."""
    import pyspark.sql.functions as F

    from bcg_contacts_data_pipeline_spark.operators.similarity import (
        fuzzy_pairs_blocked,
    )

    rows = [
        (1, "alice"), (2, "alicf"),      # distance 1, same block (len 5, 'a')
        (3, "bob"), (4, "bobby"),        # distance 2 AND different length block
        (5, "carol"), (6, "karol"),      # distance 1 but different prefix block
        (7, "dave"), (8, "dave"),        # distance 0, same block
    ]
    df = spark.createDataFrame(rows, "id long, name string")
    blocking = [F.length("name"), F.substring("name", 1, 1)]

    got = {
        (r.id_a, r.id_b): r.distance
        for r in fuzzy_pairs_blocked(df, "id", "name", blocking).collect()
    }
    assert got == {(1, 2): 1, (7, 8): 0}

    # hot-block cap: flood one block past the cap; its pairs disappear,
    # pairs in other blocks survive
    flood = rows + [(100 + i, f"zz{i % 10}") for i in range(30)]
    df2 = spark.createDataFrame(flood, "id long, name string")
    capped = fuzzy_pairs_blocked(
        df2, "id", "name", blocking, max_distance=1, max_block=10
    )
    pairs2 = {(r.id_a, r.id_b) for r in capped.collect()}
    assert (1, 2) in pairs2 and (7, 8) in pairs2
    assert not any(a >= 100 for a, _ in pairs2), pairs2
    plan = capped._jdf.queryExecution().executedPlan().toString()
    assert "LeftAnti" in plan, plan


def test_int8_quantization_properties(spark):
    """Unit contract of the quantizer: codes bounded to [-127,127],
    zero vector -> scale 0 / zero codes, reconstruction within
    scale/2, and floor(+0.5) rounding at the exact half-step."""
    import pyspark.sql.functions as F

    from bcg_contacts_data_pipeline_spark.functions.vectors import (
        dequantize_int8,
        quantize_int8,
    )

    df = spark.createDataFrame(
        [
            (1, [1.0, -1.0, 0.5, 0.0]),
            (2, [0.0, 0.0, 0.0, 0.0]),          # all-zero guard
            (3, [127.0, 63.5, -127.0, 1.0]),    # exact half-step: 63.5/1.0 -> 64
        ],
        "vec_id long, embedding array<double>",
    )
    out = {
        r.vec_id: r
        for r in df.select(
            "vec_id",
            quantize_int8("embedding").alias("q"),
            dequantize_int8(quantize_int8("embedding")).alias("back"),
            "embedding",
        ).collect()
    }
    assert out[2].q.scale == 0.0 and list(out[2].q.codes) == [0, 0, 0, 0]
    assert list(out[3].q.codes) == [127, 64, -127, 1]
    for r in out.values():
        assert all(-127 <= c <= 127 for c in r.q.codes)
        for x, d in zip(r.embedding, r.back):
            assert abs(x - d) <= r.q.scale / 2 + 1e-12


def test_int8_topk_recall_against_float_baseline(spark):
    """Quantized retrieval is an approximation; quantify it instead of
    assuming: for every query, top-5 by integer code dot must overlap
    top-5 by exact float cosine at recall@5 >= 0.6 on the synthetic
    embeddings, and the rank-1 neighbor must be in the float top-5 for
    >= 80% of queries (64-dim symmetric int8 typically loses only
    borderline candidates)."""
    import pyspark.sql.functions as F

    from bcg_contacts_data_pipeline_spark.plans.queries import QUERIES

    sf = "/root/testdata/sf0.001"
    q8 = QUERIES["embedding_topk_int8"](spark, sf).collect()
    emb = spark.read.parquet(f"{sf}/embeddings.parquet").collect()
    vecs = {r.vec_id: r.embedding for r in emb}

    def cos(a, b):
        import math

        d = sum(x * y for x, y in zip(a, b))
        na = math.sqrt(sum(x * x for x in a))
        nb = math.sqrt(sum(y * y for y in b))
        return d / (na * nb)

    got = {}
    for r in q8:
        got.setdefault(r.query_id, []).append((r.rk, r.neighbor_id))
    assert got, "int8 top-k returned nothing"
    recalls, rank1_hits = [], 0
    for qid, pairs in got.items():
        int8_top = {n for _, n in pairs}
        float_top = [
            n
            for n, _ in sorted(
                (
                    (n, cos(vecs[qid], v))
                    for n, v in vecs.items()
                    if n != qid
                ),
                key=lambda t: (-t[1], t[0]),
            )[:5]
        ]
        recalls.append(len(int8_top & set(float_top)) / 5)
        rank1 = min(pairs)[1]
        rank1_hits += rank1 in float_top
    assert sum(recalls) / len(recalls) >= 0.6, recalls
    assert rank1_hits >= 0.8 * len(got), (rank1_hits, len(got))


def test_ngram_contamination_semantics(spark):
    """Full containment scores 1.0, disjoint vocabulary scores 0.0, and
    a half-overlapping doc scores exactly shared/total — the division
    is over DISTINCT shingles, so repeating a shingle can't inflate the
    score. Sub-n-token eval docs are absent from the output."""
    from bcg_contacts_data_pipeline_spark.operators.similarity import (
        ngram_contamination,
    )

    train = spark.createDataFrame(
        [
            (100, "alpha beta gamma delta epsilon"),
            (101, "zeta eta theta iota kappa"),
        ],
        ["doc_id", "text"],
    )
    eval_df = spark.createDataFrame(
        [
            # every 3-gram of this doc is in train doc 100 -> 1.0
            (1, "alpha beta gamma delta"),
            # no shared vocabulary at all -> 0.0
            (2, "one two three four"),
            # shingles: [alpha beta gamma] (hit), [beta gamma one] (miss),
            # [gamma one two] (miss), [one two three] (miss) -> 0.25
            (3, "alpha beta gamma one two three"),
            # repetition of a contaminated shingle must not inflate:
            # distinct shingles {alpha beta alpha, beta alpha beta} miss,
            # {alpha beta gamma...} — keep it simple: two distinct
            # shingles, one hit -> 0.5
            (4, "theta iota kappa unseen"),
            # too short for a 3-gram -> absent
            (5, "just two"),
        ],
        ["doc_id", "text"],
    )
    rows = {
        r.doc_id: r
        for r in ngram_contamination(
            train, eval_df, "doc_id", "text", n=3
        ).collect()
    }
    assert set(rows) == {1, 2, 3, 4}
    assert rows[1].contamination == 1.0
    assert rows[2].contamination == 0.0
    assert rows[3].contamination == 0.25
    # doc 4: shingles {theta iota kappa (hit), iota kappa unseen (miss)}
    assert rows[4].contamination == 0.5
    assert rows[1].n_shingles == 2 and rows[1].n_hit == 2


def test_embedding_ann_lsh_cap_bit_identical_when_under(spark):
    """A cap above every bucket's size must leave the output — values,
    ranks, scores — bit-identical to the uncapped operator (the capped
    registered twin shares the uncapped oracle on exactly this law)."""
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    base = S.embedding_ann_lsh(
        emb, "vec_id", "embedding", dim=64, k=5, num_planes=6
    )
    capped = S.embedding_ann_lsh(
        emb, "vec_id", "embedding", dim=64, k=5, num_planes=6,
        max_bucket=512,
    )
    as_set = lambda df: {  # noqa: E731
        (r["query_id"], r["neighbor_id"], r["rank"], r["score"])
        for r in df.collect()
    }
    assert as_set(capped) == as_set(base)


def test_embedding_ann_lsh_cap_routes_clone_bucket_to_reps(spark):
    """A clone family larger than the cap (indivisible by hyperplanes —
    identical vectors share every sign bit) is scored against the cap
    smallest-id representatives only: every reported neighbor is a rep,
    clones still find exact (score 1.0) neighbors, and every member
    still gets a full top-k."""
    rows = [(i, [1.0, 2.0, -0.5, 0.25]) for i in range(40)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = S.embedding_ann_lsh(
        df, "vec_id", "embedding", dim=4, k=3, num_planes=4, max_bucket=8
    ).collect()
    by_query = {}
    for r in out:
        by_query.setdefault(r["query_id"], []).append(r)
    assert set(by_query) == set(range(40))  # every member answered
    for q, neigh in by_query.items():
        assert len(neigh) == 3
        assert all(r["neighbor_id"] < 8 for r in neigh)  # reps only
        assert all(abs(r["score"] - 1.0) < 1e-12 for r in neigh)
    # deterministic tie-break: score desc, neighbor_id asc, self excluded
    assert [r["neighbor_id"] for r in sorted(by_query[0], key=lambda r: r["rank"])] == [1, 2, 3]
    assert [r["neighbor_id"] for r in sorted(by_query[5], key=lambda r: r["rank"])] == [0, 1, 2]


def test_embedding_ann_ivf_cell_cap(spark):
    """``max_cell`` bounds IVF per-cell scoring the same way: an
    over-full cell answers from its cap smallest-id members only, and a
    cap above the cell size changes nothing."""
    from bcg_contacts_data_pipeline_spark.operators.similarity import (
        embedding_ann_ivf,
    )

    rows = [(i, [1.0, 0.0, 0.0, 0.0]) for i in range(30)] + [
        (100 + i, [0.0, 1.0, 0.0, 0.0]) for i in range(5)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    capped = embedding_ann_ivf(
        df, "vec_id", "embedding", n_centroids=2, n_probe=1, k=3,
        max_cell=6,
    ).collect()
    clone_neighbors = {
        r["neighbor_id"] for r in capped if r["query_id"] < 100
    }
    assert clone_neighbors <= set(range(6))  # reps only in the hot cell
    assert {r["query_id"] for r in capped if r["query_id"] < 100} == set(
        range(30)
    )
    loose = embedding_ann_ivf(
        df, "vec_id", "embedding", n_centroids=2, n_probe=1, k=3,
        max_cell=1000,
    )
    base = embedding_ann_ivf(
        df, "vec_id", "embedding", n_centroids=2, n_probe=1, k=3
    )
    key = lambda df: {  # noqa: E731
        (r["query_id"], r["neighbor_id"], r["rank"]) for r in df.collect()
    }
    assert key(loose) == key(base)


def test_zero_norm_vectors_are_ineligible(spark):
    """r12 advice: a zero-norm vector yields 0/0 = NaN cosine, and NaN
    poisons argmax/keep decisions with an order the SQL fold does not
    share. Defined semantics: zero vectors are INELIGIBLE, same as NULL
    — filtered by _non_null_vectors before any numpy kernel. Pins both
    the semantic_dedup keep decision (no NaN divergence) and the topk
    candidate set (zero vector neither queries nor matches)."""
    rows = [
        (1, [1.0, 0.0, 0.0]),
        (2, [0.9, 0.1, 0.0]),
        (3, [0.0, 0.0, 0.0]),  # zero-norm: must be excluded, not NaN
        (4, None),  # null: excluded as before
        (5, [0.0, 1.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    sd = S.semantic_dedup(
        df, "vec_id", "embedding", n_clusters=1, threshold=0.8
    ).collect()
    got_ids = {r["vec_id"] for r in sd}
    assert got_ids == {1, 2, 5}  # 3 (zero) and 4 (null) dropped
    for r in sd:
        assert r["max_prior"] == r["max_prior"]  # no NaN leaked through
    keeps = {r["vec_id"]: r["keep"] for r in sd}
    assert keeps[1] and not keeps[2] and keeps[5]

    tk = S.embedding_topk(df, "vec_id", "embedding", k=4).collect()
    ids_seen = {r["query_id"] for r in tk} | {r["neighbor_id"] for r in tk}
    assert 3 not in ids_seen and 4 not in ids_seen
    assert all(r["score"] == r["score"] for r in tk)


def test_nan_vectors_are_ineligible(spark):
    """r13 advice: `x != 0.0` is TRUE for NaN in Spark SQL, so a
    [NaN, 0, ...] vector passed the zero-norm probe yet still reached
    the numpy kernels and produced NaN cosines. Eligibility now also
    requires every element !isnan — a NaN vector is dropped exactly
    like NULL and zero-norm; Infinity stays eligible (defined cosine)."""
    nan = float("nan")
    rows = [
        (1, [1.0, 0.0, 0.0]),
        (2, [0.9, 0.1, 0.0]),
        (3, [nan, 0.0, 0.0]),   # NaN with zero rest: was the hole
        (4, [nan, 1.0, 2.0]),   # NaN among non-zeros
        (5, [0.0, 1.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    sd = S.semantic_dedup(
        df, "vec_id", "embedding", n_clusters=1, threshold=0.8
    ).collect()
    assert {r["vec_id"] for r in sd} == {1, 2, 5}
    for r in sd:
        assert r["max_prior"] == r["max_prior"]  # no NaN leaked through

    tk = S.embedding_topk(df, "vec_id", "embedding", k=4).collect()
    ids_seen = {r["query_id"] for r in tk} | {r["neighbor_id"] for r in tk}
    assert ids_seen == {1, 2, 5}
    assert all(r["score"] == r["score"] for r in tk)


def test_sig_level_copy_equals_doc_level_copy_minhash(spark):
    """r14 continuation pin: the recall corpora moved from signatures
    OVER the exploded corpus+copy (_docs_with_copy) to exploding ids
    AFTER one signature pass (_sigs_with_copy + *_from_sigs). A
    signature is a pure per-row function of the text, so both
    formulations must emit identical pair sets."""
    from bcg_contacts_data_pipeline_spark.plans.queries import (
        _docs_with_copy,
        _sigs_with_copy,
    )

    df = doc_corpus(spark)
    via_docs = sorted(
        map(
            tuple,
            S.minhash_lsh_pairs(
                _docs_with_copy(df), "doc_id", "text",
                n=3, num_hashes=64, bands=16, verify_threshold=0.5,
            ).collect(),
        )
    )
    via_sigs = sorted(
        map(
            tuple,
            S.minhash_lsh_pairs_from_sigs(
                _sigs_with_copy(
                    S.minhash_signatures(df, "doc_id", "text", 3, 64)
                ),
                "doc_id",
                num_hashes=64, bands=16, verify_threshold=0.5,
            ).collect(),
        )
    )
    assert via_docs == via_sigs and len(via_sigs) > 0


def test_sig_level_copy_equals_doc_level_copy_simhash(spark):
    from bcg_contacts_data_pipeline_spark.plans.queries import (
        _docs_with_copy,
        _sigs_with_copy,
    )

    df = doc_corpus(spark)
    via_docs = sorted(
        map(
            tuple,
            S.simhash_pairs(
                _docs_with_copy(df), "doc_id", "text", max_hamming=7
            ).collect(),
        )
    )
    via_sigs = sorted(
        map(
            tuple,
            S.simhash_pairs_from_sigs(
                _sigs_with_copy(S.simhash64(df, "doc_id", "text")),
                "doc_id",
                max_hamming=7,
            ).collect(),
        )
    )
    assert via_docs == via_sigs and len(via_sigs) > 0


def test_filtered_sigs_equal_sigs_of_filtered_corpus(spark):
    """decontaminate's r14 shape: eval-side signatures = FILTER of the
    corpus signature frame. Must be row-identical to re-signing the
    filtered text (filter commutes with the row-local projection)."""
    df = doc_corpus(spark)
    sl = S.minhash_signatures(df, "doc_id", "text", 3, 64)
    from pyspark.sql import functions as F

    filtered_sigs = sorted(
        map(tuple, sl.filter(F.col("doc_id") % 2 == 0).collect())
    )
    signed_filtered = sorted(
        map(
            tuple,
            S.minhash_signatures(
                df.filter(F.col("doc_id") % 2 == 0), "doc_id", "text", 3, 64
            ).collect(),
        )
    )
    assert filtered_sigs == signed_filtered and len(filtered_sigs) > 0
