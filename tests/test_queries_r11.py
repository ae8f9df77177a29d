"""Round-11 query semantics, pinned on constructed corpora (independent
of the DuckDB oracle, which certifies the same laws statistically at
sf): the capped-ANN twin and the incremental-curation composition."""

import pyspark.sql.functions as F

from bcg_contacts_data_pipeline_spark.operators.dedup import content_hash
from bcg_contacts_data_pipeline_spark.operators.graph import (
    incremental_components,
)
from bcg_contacts_data_pipeline_spark.operators.similarity import (
    prefix_filter_pairs,
)


def _compose(spark, rows):
    """Run the incremental_curation_e2e composition over a constructed
    documents frame (same code path as plans/q_curation.py, with the
    table injected)."""
    from pyspark.sql import Window

    docs = spark.createDataFrame(rows, "doc_id long, text string")
    hashed = docs.select("doc_id", "text", content_hash("text").alias("h"))
    base = hashed.filter(F.col("doc_id") % 10 != 0)
    batch = hashed.filter(F.col("doc_id") % 10 == 0)
    base_rep = (
        base.filter(F.col("h").isNotNull())
        .groupBy("h")
        .agg(F.min("doc_id").alias("__base_rep"))
    )
    batch_min = F.min("doc_id").over(Window.partitionBy("h"))
    anchor = F.when(
        F.col("__base_rep").isNotNull(), F.col("__base_rep")
    ).when(
        F.col("h").isNotNull() & (F.col("doc_id") != batch_min), batch_min
    )
    adjud = batch.join(base_rep, "h", "left").select(
        "doc_id", "text", anchor.alias("__anchor")
    )
    survivors = adjud.filter(F.col("__anchor").isNull()).select(
        "doc_id", "text"
    )
    dropped = adjud.filter(F.col("__anchor").isNotNull()).select(
        "doc_id", "__anchor"
    )
    corpus = base.select("doc_id", "text").unionByName(survivors)
    new_edges = prefix_filter_pairs(
        corpus, "doc_id", "text", n=3, t_num=1, t_den=2,
        probe_pred=lambda c: c % 10 == 0,
    ).select("id_a", "id_b")
    old_labels = base.join(base_rep, "h", "left").select(
        F.col("doc_id").alias("node"),
        F.coalesce("__base_rep", "doc_id").alias("comp"),
    )
    selfedges = survivors.select(
        F.col("doc_id").alias("id_a"), F.col("doc_id").alias("id_b")
    )
    merged = incremental_components(old_labels, new_edges.unionByName(selfedges))
    inherited = dropped.join(
        merged, dropped["__anchor"] == merged["node"]
    ).select(dropped["doc_id"], merged["comp"])
    out = merged.select(F.col("node").alias("doc_id"), "comp").unionByName(
        inherited
    )
    return {r["doc_id"]: r["comp"] for r in out.collect()}, {
        r["doc_id"] for r in survivors.collect()
    }


def test_incremental_curation_handoffs(spark):
    """Every handoff in the composition, one constructed corpus:
    - batch doc identical to history -> anchored to the base rep,
      inherits its component, never reaches pair generation;
    - two identical batch docs with no base match -> min survives,
      the other anchors to it;
    - a batch near-dup (not exact) of a history doc -> survives dedup,
      edges to it via jaccard, merges into its component;
    - NULL-text docs label themselves (no NULL-group collapse);
    - the label table is total (one row per input doc).
    """
    shared = "alpha beta gamma delta epsilon zeta eta theta"
    neartxt = "alpha beta gamma delta epsilon zeta eta iota"  # J=7/9 >= .5
    rows = [
        (1, shared),        # history; rep of the shared-text family
        (11, shared),       # history exact dup of 1 -> old comp 1
        (3, "totally different words here"),   # history singleton
        (5, None),          # history NULL text -> labels itself
        (10, shared),       # batch exact dup of history -> anchor 1
        (20, neartxt),      # batch near-dup of history 1 -> edge, comp 1
        (30, "brand new unseen content thirty"),  # batch, genuinely new
        (40, "brand new unseen content thirty"),  # batch dup of 30
        (50, None),         # batch NULL text -> survivor, labels itself
    ]
    comp, survivors = _compose(spark, rows)

    assert survivors == {20, 30, 50}  # 10 dropped (base), 40 dropped (batch)
    assert comp[1] == 1 and comp[11] == 1
    assert comp[10] == 1       # dup-of-base inherits through the anchor
    assert comp[20] == 1       # near-dup merged by the jaccard edge
    assert comp[3] == 3        # untouched history singleton
    assert comp[30] == 30 and comp[40] == 30  # in-batch dup anchors to min
    assert comp[5] == 5 and comp[50] == 50    # NULLs never collapse
    assert len(comp) == len(rows)             # label table is total


def test_incremental_curation_matches_registered_query_shape(spark):
    """The registered query returns (doc_id, comp) with one row per
    document at sf0.001 — totality at a real SF."""
    from bcg_contacts_data_pipeline_spark.plans.queries import QUERIES

    sf = "/root/testdata/sf0.001"
    out = QUERIES["incremental_curation_e2e"](spark, sf)
    n_docs = spark.read.parquet(f"{sf}/documents.parquet").count()
    rows = out.collect()
    assert len(rows) == n_docs
    assert len({r["doc_id"] for r in rows}) == n_docs


# ---------------------------------------------------------------------------
# paragraph_dedup (operators/dedup.py:paragraph_dedup)
# ---------------------------------------------------------------------------


def _para_rows(spark, rows, k=4, max_df=None):
    from bcg_contacts_data_pipeline_spark.operators.dedup import (
        paragraph_dedup,
    )

    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = paragraph_dedup(df, "doc_id", "text", words_per_para=k,
                          max_df=max_df)
    return {r["doc_id"]: r for r in out.collect()}


def test_paragraph_dedup_keeps_first_occurrence(spark):
    got = _para_rows(spark, [
        (1, "a b c d e f g h"),   # paras: "a b c d", "e f g h"
        (2, "a b c d x y"),       # first para dups doc 1
        (3, None),
        (4, "   "),
        (5, "e f g h"),           # fully duplicated -> empty survivor
        (6, "a b c d e f g h"),   # exact clone of doc 1 -> empty
    ])
    assert (got[1]["n_paras"], got[1]["paras_kept"]) == (2, 2)
    assert got[1]["text_dedup"] == "a b c d e f g h"
    assert (got[2]["paras_kept"], got[2]["text_dedup"]) == (1, "x y")
    for blank in (3, 4):
        assert (got[blank]["n_paras"], got[blank]["paras_kept"],
                got[blank]["text_dedup"]) == (0, 0, "")
    assert (got[5]["n_paras"], got[5]["paras_kept"], got[5]["text_dedup"]) \
        == (1, 0, "")
    assert (got[6]["n_paras"], got[6]["paras_kept"], got[6]["text_dedup"]) \
        == (2, 0, "")
    assert len(got) == 6  # label frame is total


def test_paragraph_dedup_order_and_boundaries(spark):
    # 9 words at k=4 -> paras of 4, 4, 1; all unique -> reconstruction
    # is the identity (trailing partial paragraph included, order kept)
    got = _para_rows(spark, [(1, "w1 w2 w3 w4 w5 w6 w7 w8 w9")])
    assert got[1]["n_paras"] == 3
    assert got[1]["text_dedup"] == "w1 w2 w3 w4 w5 w6 w7 w8 w9"
    # duplicate INSIDE one doc dedups too (second copy dropped, the
    # surviving text closes the gap)
    got = _para_rows(spark, [(1, "a b c d a b c d z")])
    assert got[1]["n_paras"] == 3
    assert got[1]["paras_kept"] == 2
    assert got[1]["text_dedup"] == "a b c d z"


def test_paragraph_dedup_max_df_drops_boilerplate_everywhere(spark):
    rows = [
        (1, "nav bar here a b c d"),
        (2, "nav bar here e f g h"),
        (3, "nav bar here i j k l"),
    ]
    # k=3 so para 0 is exactly the shared "nav bar here" chrome
    got = _para_rows(spark, rows, k=3, max_df=2)
    for d in (1, 2, 3):
        assert got[d]["n_paras"] == 3  # ceil(7/3)
        assert "nav bar here" not in got[d]["text_dedup"]
    assert got[1]["text_dedup"] == "a b c d"
    # without the cap, doc 1 keeps the boilerplate (first occurrence)
    got = _para_rows(spark, rows, k=3)
    assert got[1]["text_dedup"].startswith("nav bar here")
    assert "nav bar here" not in got[2]["text_dedup"]


def test_paragraph_dedup_winner_is_partitioning_invariant(spark):
    # first-occurrence = global (doc_id, para_idx) minimum, not an
    # artifact of scan order: reversing input order changes nothing
    rows = [(i, "same para text here") for i in range(1, 9)]
    got_fwd = _para_rows(spark, rows)
    got_rev = _para_rows(spark, list(reversed(rows)))
    assert got_fwd == got_rev
    assert got_fwd[1]["paras_kept"] == 1
    assert all(got_fwd[i]["paras_kept"] == 0 for i in range(2, 9))


def test_paragraph_dedup_registered_queries_total_at_sf0001(spark):
    from bcg_contacts_data_pipeline_spark.plans.queries import QUERIES

    sf = "/root/testdata/sf0.001"
    n_docs = spark.read.parquet(f"{sf}/documents.parquet").count()
    for name in ("paragraph_dedup", "paragraph_boilerplate"):
        rows = QUERIES[name](spark, sf).collect()
        assert len(rows) == n_docs
        assert len({r["doc_id"] for r in rows}) == n_docs
        assert all(r["paras_kept"] <= r["n_paras"] for r in rows)


def test_corpus_shuffle_is_a_balanced_deterministic_permutation(spark):
    from bcg_contacts_data_pipeline_spark.plans.queries import QUERIES

    sf = "/root/testdata/sf0.001"
    rows = QUERIES["corpus_shuffle"](spark, sf).collect()
    again = QUERIES["corpus_shuffle"](spark, sf).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))
    n = len(rows)
    assert sorted(r["pos"] for r in rows) == list(range(1, n + 1))
    # round-robin over the permutation -> shard sizes differ by <= 1
    from collections import Counter

    sizes = Counter(r["shard"] for r in rows)
    assert len(sizes) == 16
    assert max(sizes.values()) - min(sizes.values()) <= 1
    # the permutation actually shuffles: pos must not be the identity
    # ordering of doc_id (md5 keying would have to collide massively)
    by_id = sorted(rows, key=lambda r: r["doc_id"])
    assert [r["pos"] for r in by_id] != sorted(r["pos"] for r in by_id)


# ---------------------------------------------------------------------------
# paragraph_dedup vs a direct Python model (property)
# ---------------------------------------------------------------------------

from hypothesis import HealthCheck, given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402

_WORDS = ["aa", "bb", "cc", "dd"]
_doc = st.lists(st.sampled_from(_WORDS), min_size=0, max_size=12).map(
    " ".join
)


def _para_model(docs, k, max_df=None):
    """Direct Python replay of the declared semantics."""
    paras = {}  # para -> list[(doc_id, idx)]
    split = {}
    for doc_id, text in docs:
        words = (text or "").split()
        ps = [
            " ".join(words[i : i + k]) for i in range(0, len(words), k)
        ]
        split[doc_id] = ps
        for idx, p in enumerate(ps):
            paras.setdefault(p, []).append((doc_id, idx))
    hot = (
        {p for p, occ in paras.items() if len({d for d, _ in occ}) > max_df}
        if max_df is not None
        else set()
    )
    out = {}
    for doc_id, text in docs:
        kept = [
            p
            for idx, p in enumerate(split[doc_id])
            if p not in hot and min(paras[p]) == (doc_id, idx)
        ]
        out[doc_id] = (len(split[doc_id]), len(kept), " ".join(kept))
    return out


@given(
    st.lists(_doc, min_size=1, max_size=8),
    st.integers(1, 4),
    st.sampled_from([None, 1, 2]),
)
@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_paragraph_dedup_matches_python_model(spark, texts, k, max_df):
    from bcg_contacts_data_pipeline_spark.operators.dedup import (
        paragraph_dedup,
    )

    docs = list(enumerate(texts))
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["n_paras"], r["paras_kept"], r["text_dedup"])
        for r in paragraph_dedup(
            df, "doc_id", "text", words_per_para=k, max_df=max_df
        ).collect()
    }
    assert got == _para_model(docs, k, max_df)


def test_crawl_curation_e2e_legs_bind(spark):
    """Composition sanity at sf0.001: output only contains URL-dedup
    winners (doc_id % 5 in {0, 4} by the alias arithmetic), per-host
    counts respect the quota, and every kept doc passed the quality
    gate on its DEDUPED text."""
    from bcg_contacts_data_pipeline_spark.plans.queries import QUERIES

    rows = QUERIES["crawl_curation_e2e"](
        spark, "/root/testdata/sf0.001"
    ).collect()
    assert rows  # the ladder keeps something at the smallest SF
    from collections import Counter

    assert all(r["doc_id"] % 5 in (0, 4) for r in rows)
    assert max(Counter(r["host"] for r in rows).values()) <= 5
    assert all(1 <= r["paras_kept"] <= r["n_paras"] for r in rows)


def test_paragraph_oracle_parity_on_messy_whitespace(spark, tmp_path):
    """Regression: a trailing tab/newline makes regex-split emit a final
    empty token on BOTH engines -> a phantom empty paragraph. The
    operator drops it; the oracle must mirror that drop or dedup_md5
    diverges. Runs the registered query AND its DuckDB oracle on a
    constructed corpus full of edge whitespace and compares exactly."""
    import duckdb

    from bcg_contacts_data_pipeline_spark.plans.queries import ORACLE, QUERIES

    words = " ".join(f"w{i}" for i in range(16))  # exactly one paragraph
    rows = [
        (1, words + "\n"),        # trailing newline -> phantom empty para
        (2, words + "\t"),        # trailing tab, duplicates doc 1's para
        (3, "\t" + words),        # leading tab -> leading empty token
        (4, words.replace(" ", "\n")),  # newline-separated words
        (5, None),
        (6, "   "),
    ]
    d = tmp_path / "sf_ws"
    d.mkdir()
    spark.createDataFrame(rows, "doc_id long, text string").coalesce(
        1
    ).write.parquet(str(d / "documents.parquet"))

    for name in ("paragraph_dedup", "paragraph_boilerplate"):
        got = {
            r["doc_id"]: (r["n_paras"], r["paras_kept"], r["dedup_md5"])
            for r in QUERIES[name](spark, str(d)).collect()
        }
        con = duckdb.connect()
        con.execute(
            "CREATE VIEW documents AS SELECT * FROM "
            f"'{d / 'documents.parquet'}/*.parquet'"
        )
        want = {
            int(r[0]): (int(r[1]), int(r[2]), r[3])
            for r in con.execute(ORACLE[name]).fetchall()
        }
        con.close()
        assert got == want, name
