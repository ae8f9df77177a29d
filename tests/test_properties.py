"""Property-based tests (hypothesis) for the semantics SURVEY §7.4 flags
as the hard parts: sentinel-null handling, merge tie-breaking, phone
last-10 truncation, empty-dedup-key passthrough.

Strategy: generate small row sets, run the Spark operator, and compare
against a direct Python model of the reference semantics
(clean_contacts.py / fill_missing_contacts.py).
"""

import re

import pyspark.sql.functions as F
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from bcg_contacts_data_pipeline_spark.functions import normalize as N
from bcg_contacts_data_pipeline_spark.operators.dedup import (
    dedup_key,
    most_complete_merge,
)

SETTINGS = dict(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

texts = st.one_of(
    st.none(),
    st.sampled_from(["", " ", "nan", "None", "NaN", "x", "  y  "]),
    st.text(
        alphabet="abAB @.-+0123456789",
        min_size=0,
        max_size=12,
    ),
)


def _model_sentinel(v):
    """clean_contacts.py:206 — '', 'nan', 'None', 'NaN' (after strip) and
    real nulls are all null."""
    if v is None:
        return None
    if v.strip() in ("", "nan", "None", "NaN"):
        return None
    return v


@given(st.lists(texts, min_size=1, max_size=8))
@settings(**SETTINGS)
def test_nullify_sentinels_matches_model(spark, vals):
    df = spark.createDataFrame([(v,) for v in vals], "v string")
    got = [r[0] for r in df.select(N.nullify_sentinels(F.col("v"))).collect()]
    assert got == [_model_sentinel(v) for v in vals]


def _model_phone_key(v):
    """fill_missing_contacts.py:14-21 — digits only; last 10 iff >= 10."""
    if v is None:
        return None
    d = re.sub(r"\D", "", v)
    if not d:
        return None
    return d[-10:] if len(d) >= 10 else d


@given(st.lists(texts, min_size=1, max_size=8))
@settings(**SETTINGS)
def test_norm_phone_matches_model(spark, vals):
    df = spark.createDataFrame([(v,) for v in vals], "v string")
    got = [r[0] for r in df.select(N.norm_phone(F.col("v"))).collect()]
    assert got == [_model_phone_key(v) for v in vals]


@given(
    st.lists(
        st.tuples(
            st.sampled_from(["k1", "k2"]),  # group key
            st.one_of(st.none(), st.sampled_from(["", "nan", "a", "bb", "ccc", "dd"])),
            st.integers(min_value=0, max_value=50),  # recency
        ),
        min_size=1,
        max_size=10,
    )
)
@settings(**SETTINGS)
def test_most_complete_merge_matches_model(spark, rows):
    """Per group: longest valid value wins; ties -> most recent (higher
    order_by); row identity breaks exact ties deterministically."""
    data = [(k, v, r, i) for i, (k, v, r) in enumerate(rows)]
    df = spark.createDataFrame(data, "k string, v string, rec long, rid long")
    out = most_complete_merge(
        df,
        F.col("k"),
        value_cols=["v"],
        order_by=F.col("rec") * 1000 + F.col("rid"),
    )
    got = {r["dedup_key"]: (r["v"], r["group_size"]) for r in out.collect()}

    groups = {}
    for k, v, rec, rid in data:
        groups.setdefault(k, []).append((v, rec, rid))
    for k, members in groups.items():
        valid = [
            (v, rec, rid)
            for v, rec, rid in members
            if v is not None and v.strip() not in ("", "nan", "None", "NaN")
        ]
        if valid:
            best = max(valid, key=lambda t: (len(t[0]), t[1] * 1000 + t[2]))[0]
        else:
            best = None
        assert got[k][0] == best, (k, members, got[k])
        assert got[k][1] == len(members)


def test_empty_key_passthrough(spark):
    """Keyless rows (null email AND null fullname/mobile fallback) pass
    through unmerged — the reference's Frankenstein-merge of all keyless
    rows into one record is deliberately NOT replicated by default."""
    rows = [
        ("a@x.co", "A A", "111", "r1"),
        (None, None, None, "r2"),
        (None, None, None, "r3"),
    ]
    df = spark.createDataFrame(rows, ["email", "fullname", "mobile", "tag"])
    out = most_complete_merge(
        df,
        dedup_key("email", "fullname", "mobile"),
        value_cols=["tag"],
        order_by=F.lit(0),
    )
    assert out.count() == 3  # two keyless rows NOT merged together
    tags = sorted(r["tag"] for r in out.collect())
    assert tags == ["r1", "r2", "r3"]


# ---------------------------------------------------------------------------
# k-of-n enrichment (J2) vs a direct Python model of
# fill_missing_contacts.py:47-138
# ---------------------------------------------------------------------------

keyvals = st.one_of(st.none(), st.sampled_from(["a", "b", "c", "d"]))
fillvals = st.one_of(st.none(), st.sampled_from(["X", "Y"]))


@given(
    st.lists(  # targets: (k1, k2, k3, f1)
        st.tuples(keyvals, keyvals, keyvals, fillvals),
        min_size=1, max_size=6,
    ),
    st.lists(  # sources: (k1, k2, k3, f1)
        st.tuples(keyvals, keyvals, keyvals, fillvals),
        min_size=1, max_size=6,
    ),
)
@settings(**SETTINGS)
def test_kofn_enrich_matches_model(spark, tgt, src):
    import pyspark.sql.functions as F

    from bcg_contacts_data_pipeline_spark.operators.enrich import (
        MatchKey,
        change_log,
        kofn_enrich,
    )
    from bcg_contacts_data_pipeline_spark.operators.pins import (
        PinScope,
        checkpoint,
    )

    tdata = [(i, *row) for i, row in enumerate(tgt)]
    sdata = [(i, *row) for i, row in enumerate(src)]
    tdf = spark.createDataFrame(
        tdata, "tid long, k1 string, k2 string, k3 string, f1 string"
    )
    sdf = spark.createDataFrame(
        sdata, "sid long, sk1 string, sk2 string, sk3 string, sf1 string"
    )
    keys = [
        MatchKey("k1", F.col("k1"), F.col("sk1")),
        MatchKey("k2", F.col("k2"), F.col("sk2")),
        MatchKey("k3", F.col("k3"), F.col("sk3")),
    ]
    enriched = kofn_enrich(
        tdf, sdf, keys, fill={"f1": "sf1"}, target_id="tid",
        source_order="sid", min_matches=2,
    )
    got = {r.tid: (r.f1, r.matched_source_id) for r in enriched.collect()}
    # the log as the contacts plan derives it: from the checkpointed match
    with PinScope():
        log = [
            tuple(r)
            for r in change_log(checkpoint(enriched), "tid").collect()
        ]
    want_log = []

    # model: first (lowest sid) source agreeing on >=2 non-null keys;
    # only rows with f1 missing probe; fill only if currently null
    for i, (k1, k2, k3, f1) in enumerate(tgt):
        if f1 is not None:
            assert got[i] == (f1, None), (i, got[i])
            continue
        best = None
        for (sid, s1, s2, s3, sf1) in sdata:
            agree = [
                name
                for name, a, b in [("k1", k1, s1), ("k2", k2, s2), ("k3", k3, s3)]
                if a is not None and b is not None and a == b
            ]
            if len(agree) >= 2:
                best = (sid, sf1, ",".join(agree))
                break  # sdata is sid-ordered: first match wins
        if best is None:
            assert got[i] == (None, None), (i, got[i])
        else:
            assert got[i] == (best[1], best[0]), (i, got[i], best)
            if best[1] is not None:
                want_log.append((i, "f1", None, best[1], best[0], best[2]))
    # one f1 entry per filled row: new_value = the winner's sf1,
    # source_id = the winning sid, matched_on = the keys that agree
    assert sorted(log) == sorted(want_log), (log, want_log)


# ---------------------------------------------------------------------------
# SQL-text twins (functions/normalize_sql.py) vs the Column library, over
# hypothesis-generated strings — stronger than the fixed corpus in
# test_normalize_sql.py (random unicode, quotes, regex metachars).
# ---------------------------------------------------------------------------

twin_texts = st.one_of(
    st.none(),
    st.sampled_from(["", " ", "nan", "None", "NaN", "42.0", "y", "A@b.co"]),
    st.text(min_size=0, max_size=16),  # full unicode
)


@given(st.lists(twin_texts, min_size=1, max_size=10))
@settings(**SETTINGS)
def test_sql_twins_match_column_forms_on_random_text(spark, vals):
    from bcg_contacts_data_pipeline_spark.functions import normalize_sql as NS

    df = spark.createDataFrame([(v,) for v in vals], "v string")
    pairs = [
        (N.nullify_sentinels(F.col("v")), NS.nullify_sentinels_sql("v")),
        (N.norm_email(F.col("v")), NS.norm_email_sql("v")),
        (N.title_case(F.col("v")), NS.title_case_sql("v")),
        (N.yn_flag(F.col("v")), NS.yn_flag_sql("v")),
        (N.norm_ws(F.col("v")), NS.norm_ws_sql("v")),
        (N.is_valid_value(F.col("v")), NS.is_valid_value_sql("v")),
    ]
    cols = []
    for i, (col_form, sql_form) in enumerate(pairs):
        cols.append(col_form.alias(f"c{i}"))
        cols.append(F.expr(sql_form).alias(f"s{i}"))
    for r in df.select(*cols).collect():
        for i in range(len(pairs)):
            assert r[f"c{i}"] == r[f"s{i}"], (i, r)


@given(st.lists(st.lists(st.sampled_from(["a", "b", "c"]), min_size=0, max_size=8), min_size=1, max_size=6))
@settings(**SETTINGS)
def test_repetition_ratio_matches_model(spark, docs):
    from bcg_contacts_data_pipeline_spark.functions.text import repetition_ratio

    rows = [(i, " ".join(toks)) for i, toks in enumerate(docs)]
    df = spark.createDataFrame(rows, "id long, text string")
    got = {r.id: r.ratio for r in df.select("id", repetition_ratio("text", 2).alias("ratio")).collect()}
    for i, toks in enumerate(docs):
        grams = [f"{toks[j]} {toks[j+1]}" for j in range(len(toks) - 1)]
        want = 1.0 - len(set(grams)) / len(grams) if grams else 0.0
        assert abs(got[i] - want) < 1e-12, (i, toks, got[i], want)
