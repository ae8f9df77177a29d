"""k-of-n enrichment join tests (SURVEY §2.3 J1/J2) — contact-shaped
fixtures mirroring the reference's fill_missing_contacts semantics."""

from __future__ import annotations

from pyspark.sql import functions as F

from bcg_contacts_data_pipeline_spark.functions import normalize as N
from bcg_contacts_data_pipeline_spark.operators.enrich import (
    MatchKey,
    change_log,
    kofn_enrich,
    two_key_enrich,
)


def keys3():
    return [
        MatchKey("name", N.norm_ws(F.col("name")), N.norm_ws(F.col("s_name"))),
        MatchKey("email", N.norm_email(F.col("email")), N.norm_email(F.col("s_email"))),
        MatchKey("phone", N.norm_phone(F.col("phone")), N.norm_phone(F.col("s_phone"))),
    ]


def test_kofn_fills_only_missing_with_first_2of3_match(spark):
    target = spark.createDataFrame(
        [
            # matches src on name+email (2 of 3) -> phone filled
            (1, "Ann Lee", "a@x.com", None, None),
            # matches src only on name (1 of 3) -> NOT filled
            (2, "Bob Roy", "bob@other.com", None, None),
            # nothing missing -> never probes
            (3, "Cal Poe", "c@x.com", "555", "here"),
            # two candidates match; first by source order wins
            (4, "Dee Sun", "d@x.com", None, None),
        ],
        "id long, name string, email string, phone string, title string",
    )
    source = spark.createDataFrame(
        [
            (10, "ann  lee", "A@X.COM", "0412345678", "Dr"),
            (20, "Bob Roy", "bob@x.com", "999", "Mr"),
            (30, "Dee Sun", "d@x.com", "111", "Ms"),
            (40, "Dee Sun", "d@x.com", "222", "Mx"),
        ],
        "sid long, s_name string, s_email string, s_phone string, s_title string",
    )
    enriched = kofn_enrich(
        target,
        source,
        keys3(),
        fill={"phone": "s_phone", "title": "s_title"},
        target_id="id",
        source_order="sid",
        min_matches=2,
    )
    log = change_log(enriched, "id")
    rows = {r["id"]: r for r in enriched.collect()}
    assert rows[1]["phone"] == "0412345678" and rows[1]["title"] == "Dr"
    assert rows[2]["phone"] is None and rows[2]["matched_source_id"] is None
    assert rows[3]["phone"] == "555" and rows[3]["title"] == "here"
    assert rows[3]["matched_source_id"] is None  # not needy -> never probed
    assert rows[4]["matched_source_id"] == 30  # first match by source order
    assert rows[4]["phone"] == "111"

    log_rows = {(r["id"], r["field"]): r for r in log.collect()}
    assert log_rows[(1, "phone")]["new_value"] == "0412345678"
    assert set(log_rows[(1, "phone")]["matched_on"].split(",")) == {"name", "email"}
    assert (3, "phone") not in log_rows


def test_null_keys_never_match(spark):
    target = spark.createDataFrame(
        [(1, None, None, "123", None)],
        "id long, name string, email string, phone string, title string",
    )
    # source row also has null name/email; only phone agrees -> 1 of 3 -> no fill
    source = spark.createDataFrame(
        [(10, None, None, "123", "Dr")],
        "sid long, s_name string, s_email string, s_phone string, s_title string",
    )
    enriched = kofn_enrich(
        target, source, keys3(), {"title": "s_title"}, "id", "sid", min_matches=2
    )
    assert enriched.collect()[0]["title"] is None


def test_two_key_strict_variant(spark):
    # J1: name+phone must BOTH match (merge_contacts_kindaworks semantics)
    target = spark.createDataFrame(
        [(1, "Ann Lee", None, "555-123-4567", None)],
        "id long, name string, email string, phone string, title string",
    )
    source = spark.createDataFrame(
        [(10, "ANN LEE", "ann@x.com", "+1 (555) 123-4567", "x")],
        "sid long, s_name string, s_email string, s_phone string, s_title string",
    )
    keys = [
        MatchKey("name", N.norm_ws(F.col("name")), N.norm_ws(F.col("s_name"))),
        MatchKey("phone", N.norm_phone(F.col("phone")), N.norm_phone(F.col("s_phone"))),
    ]
    enriched = two_key_enrich(
        target, source, keys, {"email": "s_email"}, "id", "sid"
    )
    # phone normalizes to last-10 on both sides -> match; email filled
    assert enriched.collect()[0]["email"] == "ann@x.com"


def test_banded_join_multi_combo_and_all_three_match(spark):
    """Pins the r14 banded-combination join: a target matching a source
    on ALL THREE keys satisfies every 2-of-3 combination (three banded
    candidate rows for one logical pair) yet must enrich exactly once,
    with matched_on listing all three keys; and a target whose two
    agreeing keys span DIFFERENT combos with different sources takes
    the min-sid source."""
    target = spark.createDataFrame(
        [
            (1, "Ann Lee", "a@x.com", "0412345678", None),   # 3/3 vs sid 10
            (2, "Bob Roy", "b@x.com", "0499999999", None),   # name+email sid 20; name+phone sid 30
        ],
        "id long, name string, email string, phone string, title string",
    )
    source = spark.createDataFrame(
        [
            (10, "ann lee", "A@X.COM", "0412345678", "Dr"),
            (20, "Bob Roy", "b@x.com", "0400000000", "Mr"),
            (30, "Bob Roy", "bob@other.com", "0499999999", "Ms"),
        ],
        "sid long, s_name string, s_email string, s_phone string, s_title string",
    )
    enriched = kofn_enrich(
        target, source, keys3(), {"title": "s_title"}, "id", "sid",
        min_matches=2,
    )
    log = change_log(enriched, "id")
    rows = {r["id"]: r for r in enriched.collect()}
    assert rows[1]["title"] == "Dr"
    assert rows[1]["matched_source_id"] == 10
    assert set(rows[1]["matched_on"]) == {"name", "email", "phone"}
    # one enriched row per target despite 3 banded candidate rows
    assert enriched.count() == 2
    assert rows[2]["matched_source_id"] == 20  # min sid across combos
    assert rows[2]["title"] == "Mr"
    log_rows = {(r["id"], r["field"]) for r in log.collect()}
    assert log_rows == {(1, "title"), (2, "title")}
