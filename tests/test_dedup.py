"""Dedup-merge operator tests (SURVEY §2.4 A1/A2, §2.6 O2)."""

from __future__ import annotations

from pyspark.sql import functions as F

from bcg_contacts_data_pipeline_spark.operators import dedup as D


def contacts_df(spark):
    # (email, fullname, mobile, notes, recency) — recency high = newer
    rows = [
        ("a@x.com", "Ann Lee", "111", "short", 1),
        ("A@X.com ", "Ann Lee", "111", "a much longer note", 2),
        ("a@x.com", "Ann Q. Lee", "111", "nan", 3),
        (None, "Bob Roy", "222", "only row", 1),
        (None, "", "", "keyless row", 1),
        ("", None, None, "another keyless", 2),
    ]
    return spark.createDataFrame(
        rows, "email string, fullname string, mobile string, notes string, rec int"
    )


def test_dedup_key_email_else_name_mobile(spark):
    df = contacts_df(spark).select(
        D.dedup_key("email", "fullname", "mobile").alias("k"), "notes"
    )
    got = {r["notes"]: r["k"] for r in df.collect()}
    assert got["short"] == "a@x.com"
    assert got["a much longer note"] == "a@x.com"  # trimmed+lowered
    assert got["only row"] == "bob roy-222"
    assert got["keyless row"] is None
    assert got["another keyless"] is None


def test_most_complete_merge_longest_then_recent(spark):
    df = contacts_df(spark)
    merged = D.most_complete_merge(
        df,
        D.dedup_key("email", "fullname", "mobile"),
        value_cols=["email", "fullname", "mobile", "notes"],
        order_by="rec",
    )
    rows = {r["dedup_key"]: r for r in merged.collect()}
    ann = rows["a@x.com"]
    assert ann["group_size"] == 3
    # longest wins; 'nan' sentinel is never picked
    assert ann["notes"] == "a much longer note"
    assert ann["fullname"] == "Ann Q. Lee"
    # ties on length ('a@x.com' vs 'a@x.com') -> highest rec among originals
    assert ann["mobile"] == "111"
    # keyless rows pass through unmerged (reference bug fixed by default)
    keyless = [r for r in merged.collect() if r["dedup_key"] is None]
    assert len(keyless) == 2


def test_merge_empty_keys_compat_mode(spark):
    df = contacts_df(spark)
    merged = D.most_complete_merge(
        df,
        D.dedup_key("email", "fullname", "mobile"),
        value_cols=["notes"],
        order_by="rec",
        merge_empty_keys=True,
    )
    keyless = [r for r in merged.collect() if r["dedup_key"] is None]
    # bug-compat: all keyless rows collapse into ONE record
    assert len(keyless) == 1
    assert keyless[0]["group_size"] == 2


def test_exact_dedup(spark):
    df = spark.createDataFrame(
        [(1, "Hello  World"), (2, "hello world"), (3, "different")],
        "id long, text string",
    )
    out = {r["canonical_id"]: r["dup_count"] for r in D.exact_dedup(df, "text", "id").collect()}
    assert out == {1: 2, 3: 1}


def test_renumber_scalable_contiguous(spark):
    df = spark.createDataFrame([(x,) for x in range(997, 0, -1)], "v int").repartition(7)
    out = D.renumber(df, ["v"]).collect()
    assert len(out) == 997
    by_v = {r["v"]: r["seqno"] for r in out}
    # seqno follows the total order on v, contiguous 1..N
    assert sorted(by_v.values()) == list(range(1, 998))
    assert by_v[1] == 1 and by_v[997] == 997


def test_first_row_per_group(spark):
    df = spark.createDataFrame(
        [(1, "b", 10), (1, "a", 20), (2, "z", 5)], "k int, v string, ord int"
    )
    out = D.first_row_per_group(df, ["k"], [F.col("ord").asc()])
    got = {r["k"]: r["v"] for r in out.collect()}
    assert got == {1: "b", 2: "z"}


def test_dedup_key_reference_concat_semantics(spark):
    """ADVICE r01: the fallback key mirrors pandas string concat exactly —
    dash always present, NULL -> '', so mobile-only rows key as
    '-<mobile>' (merge on mobile alone) and 'name' vs 'name-' collisions
    cannot occur."""
    rows = [
        (None, "Ann Lee", None, "name only"),
        (None, None, "333", "mobile only"),
        (None, "", "333", "blank name with mobile"),
        (None, "A-7", None, "dashed name no mobile"),
        (None, "A", "7", "name and mobile"),
    ]
    df = spark.createDataFrame(rows, "email string, fullname string, mobile string, tag string")
    got = {
        r["tag"]: r["k"]
        for r in df.select(
            D.dedup_key("email", "fullname", "mobile").alias("k"), "tag"
        ).collect()
    }
    assert got["name only"] == "ann lee-"
    assert got["mobile only"] == "-333"
    assert got["blank name with mobile"] == "-333"  # merges on mobile alone
    # trailing dash keeps these two distinct (would collide without it)
    assert got["dashed name no mobile"] == "a-7-"
    assert got["name and mobile"] == "a-7"


def test_global_running_sum_and_pack_shards(spark):
    """Two-pass global cumsum equals the single-window model on every
    partition layout; pack_shards respects budget contiguity."""
    import pyspark.sql.functions as F

    from bcg_contacts_data_pipeline_spark.operators.pack import (
        global_running_sum,
        pack_shards,
    )

    rows = [(i, (i * 37) % 11) for i in range(200)]
    df = spark.createDataFrame(rows, "id long, size long").repartition(7)
    got = {
        r.id: r.running_sum
        for r in global_running_sum(df, "size", "id").collect()
    }
    run = 0
    for i, s in rows:
        assert got[i] == run, (i, got[i], run)
        run += s

    packed = {r.id: r.shard_id for r in pack_shards(df, "id", "size", 50).collect()}
    # shard ids are non-decreasing in order and match the model
    run, last = 0, 0
    for i, s in rows:
        want = run // 50
        assert packed[i] == want, (i, packed[i], want)
        assert want >= last
        last, run = want, run + s

    # inclusive mode: first row carries its own value
    inc = {
        r.id: r.cum
        for r in global_running_sum(df, "size", "id", "cum", exclusive=False).collect()
    }
    run = 0
    for i, s in rows:
        run += s
        assert inc[i] == run


def _ss_corpus(spark):
    """Constructed corpus for substring_spans: doc 1 and doc 2 share an
    exact 20-token block at different offsets inside otherwise-different
    text; doc 3 shares nothing >= 8 tokens; doc 4 repeats a gram
    INTERNALLY (no cross-doc pair)."""
    shared = " ".join(f"s{i}" for i in range(20))
    d1 = "a1 a2 a3 a4 a5 " + shared + " z1 z2"
    d2 = shared + " b1 b2 b3"
    d3 = " ".join(f"c{i}" for i in range(30))
    d4 = " ".join(["r1 r2 r3 r4 r5 r6 r7 r8"] * 3)
    return spark.createDataFrame(
        [(1, d1), (2, d2), (3, d3), (4, d4)], "doc_id long, text string"
    )


def test_substring_spans_finds_maximal_shared_span(spark):
    out = D.substring_spans(
        _ss_corpus(spark), "doc_id", "text", k=8, min_len=15
    ).collect()
    assert len(out) == 1
    r = out[0]
    # doc1 tokens: 5 prefix + 20 shared -> span starts at token 6;
    # doc2 starts with the shared block -> b_start 1; MAXIMAL: exactly
    # the 20 shared tokens, not clipped to k or a sub-run
    assert (r["doc_a"], r["doc_b"]) == (1, 2)
    assert (r["a_start"], r["b_start"], r["len_tokens"]) == (6, 1, 20)


def test_substring_spans_no_within_doc_pairs(spark):
    """Doc 4's internally-repeated grams have document frequency 1 —
    singleton grams can't pair, so internal repetition alone never
    emits a span (cross-doc semantics, doc_a < doc_b)."""
    out = D.substring_spans(
        _ss_corpus(spark), "doc_id", "text", k=8, min_len=8
    ).collect()
    assert all({r["doc_a"], r["doc_b"]} == {1, 2} for r in out)


def test_substring_spans_df_cap_drops_stop_grams(spark):
    """A block shared by MORE than max_df documents is a stop-gram
    (boilerplate): capped out of the postings, so no span is reported
    for it, while a 2-doc span survives."""
    boiler = " ".join(f"w{i}" for i in range(16))
    rare = " ".join(f"q{i}" for i in range(16))
    rows = [(i, boiler + f" tail{i}") for i in range(1, 5)]
    rows += [(10, "x0 x1 " + rare), (11, rare + " y0 y1")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = D.substring_spans(df, "doc_id", "text", k=8, min_len=15, max_df=3).collect()
    assert {(r["doc_a"], r["doc_b"]) for r in out} == {(10, 11)}
    # raising the cap brings the boilerplate pairs back
    out2 = D.substring_spans(df, "doc_id", "text", k=8, min_len=15, max_df=8).collect()
    assert {(10, 11)} < {(r["doc_a"], r["doc_b"]) for r in out2}
    assert len(out2) == 1 + 6  # C(4,2) boiler pairs + the rare pair


def test_substring_spans_separate_runs_split_on_gaps(spark):
    """Two disjoint shared blocks between the same pair -> two spans
    (the island trick splits runs at the ia gap)."""
    blk1 = " ".join(f"m{i}" for i in range(15))
    blk2 = " ".join(f"n{i}" for i in range(15))
    df = spark.createDataFrame(
        [
            (1, blk1 + " gap1 gap2 gap3 " + blk2),
            (2, blk2 + " other1 other2 " + blk1),
        ],
        "doc_id long, text string",
    )
    out = sorted(
        D.substring_spans(df, "doc_id", "text", k=8, min_len=15).collect(),
        key=lambda r: r["a_start"],
    )
    assert [(r["a_start"], r["b_start"], r["len_tokens"]) for r in out] == [
        (1, 18, 15),   # blk1: doc1 head, doc2 tail
        (19, 1, 15),   # blk2: doc1 tail, doc2 head
    ]


def test_substring_spans_plan_is_pure_catalyst(spark):
    """No Python UDF / mapInPandas anywhere in the plan — postings,
    cap, pair join, and run merge are all Catalyst expressions."""
    plan = D.substring_spans(
        _ss_corpus(spark), "doc_id", "text"
    )._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    assert "FlatMapsInPandas" not in plan and "MapInPandas" not in plan


def test_substring_trim_removes_later_occurrence_only(spark):
    """Keep-first semantics: the shared block survives in doc 1 (lowest
    id) and is trimmed out of doc 2; untouched docs pass through with
    dup_tokens=0 and their exact text."""
    out = {
        r["doc_id"]: r
        for r in D.substring_trim(
            _ss_corpus(spark), "doc_id", "text", k=8, min_len=15
        ).collect()
    }
    shared = " ".join(f"s{i}" for i in range(20))
    d1 = out[1]
    assert d1["dup_tokens"] == 0 and shared in d1["text_trimmed"]
    d2 = out[2]
    assert d2["n_tokens"] == 23 and d2["dup_tokens"] == 20
    assert d2["text_trimmed"] == "b1 b2 b3"
    for did in (3, 4):
        assert out[did]["dup_tokens"] == 0
    # untouched docs keep their exact text
    assert out[3]["text_trimmed"] == " ".join(f"c{i}" for i in range(30))
    assert out[4]["text_trimmed"] == " ".join(["r1 r2 r3 r4 r5 r6 r7 r8"] * 3)


def test_substring_trim_fully_duplicated_doc_goes_empty(spark):
    """A document that is one big duplicated span of an earlier doc
    trims to the empty string (downstream length filters drop it — the
    same contract as paragraph_dedup)."""
    blk = " ".join(f"v{i}" for i in range(20))
    df = spark.createDataFrame(
        [(1, blk + " extra1 extra2"), (2, blk)],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in D.substring_trim(df, "doc_id", "text", k=8, min_len=15).collect()}
    assert out[2]["text_trimmed"] == "" and out[2]["dup_tokens"] == 20
    assert out[1]["dup_tokens"] == 0


def test_substring_trim_overlapping_spans_count_positions_once(spark):
    """dup_tokens counts COVERED POSITIONS (distinct), not span-length
    sums: doc 30 shares one 25-token block with doc 10 and an
    overlapping window of it with doc 20 — coverage must not
    double-count the overlap."""
    blk = " ".join(f"w{i}" for i in range(25))
    sub = " ".join(f"w{i}" for i in range(5, 25))  # suffix window of blk
    df = spark.createDataFrame(
        [(10, blk), (20, sub + " x1 x2"), (30, "y1 y2 " + blk)],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in D.substring_trim(df, "doc_id", "text", k=8, min_len=15).collect()}
    assert out[30]["dup_tokens"] == 25  # 25 covered positions, once
    assert out[30]["text_trimmed"] == "y1 y2"
    assert out[10]["dup_tokens"] == 0  # lowest id keeps everything


def test_substring_family_excludes_null_text(spark):
    """r13 advice: the substring family scopes itself to text-bearing
    documents — trim emits NO row for a NULL-text doc (its certified
    oracle's spine is `WHERE text IS NOT NULL`), rather than a
    dup_tokens=0 pass-through the oracle never sees."""
    blk = " ".join(f"s{i}" for i in range(16))
    rows = [(1, "h1 h2 " + blk), (2, blk + " t1 t2"), (3, None)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    trim = D.substring_trim(df, "doc_id", "text", k=8, min_len=15)
    assert {r["doc_id"] for r in trim.collect()} == {1, 2}
    spans = D.substring_spans(df, "doc_id", "text", k=8, min_len=15)
    assert {(r["doc_a"], r["doc_b"]) for r in spans.collect()} == {(1, 2)}


def test_substring_spans_occ_cap_exact_when_no_repeats(spark):
    """occ_cap is a pure fan-out dial: on a corpus where no (doc, gram)
    multiplicity exceeds the cap, the capped output is IDENTICAL to the
    exact one (the production-twin contract)."""
    blk1 = " ".join(f"m{i}" for i in range(15))
    blk2 = " ".join(f"n{i}" for i in range(15))
    df = spark.createDataFrame(
        [
            (1, blk1 + " gap1 gap2 gap3 " + blk2),
            (2, blk2 + " other1 other2 " + blk1),
        ],
        "doc_id long, text string",
    )
    key = lambda rows: {  # noqa: E731
        (r["doc_a"], r["doc_b"], r["a_start"], r["b_start"], r["len_tokens"])
        for r in rows
    }
    exact = key(D.substring_spans(df, "doc_id", "text", k=8, min_len=15).collect())
    capped = key(
        D.substring_spans(
            df, "doc_id", "text", k=8, min_len=15, occ_cap=1
        ).collect()
    )
    assert exact == capped and len(exact) == 2


def test_substring_spans_occ_cap_bounds_degenerate_doc(spark):
    """The disclosed trade: a degenerate document repeating one gram m
    times fans the pair join out m_a * m_b per doc pair despite the
    DISTINCT-doc df-cap (r13 advice); occ_cap=1 keeps one posting per
    (doc, gram) so the quadratic blowup — and its spans — are gone."""
    degen = " ".join(["a"] * 30)
    df = spark.createDataFrame(
        [(1, degen), (2, degen)], "doc_id long, text string"
    )
    exact = D.substring_spans(df, "doc_id", "text", k=3, min_len=15).collect()
    # every diagonal |d| <= 15 carries a full run: 31 spans of len 30-|d|
    assert len(exact) == 31
    capped = D.substring_spans(
        df, "doc_id", "text", k=3, min_len=15, occ_cap=1
    ).collect()
    assert capped == []  # single posting per side -> 3-token run < min_len


def test_substring_spans_occ_cap_validates(spark):
    import pytest as _pytest

    df = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    with _pytest.raises(ValueError):
        D.substring_spans(df, "doc_id", "text", occ_cap=0).collect()
