"""Explicit skew mitigation: salted two-phase aggregation, salted
broadcast join, and the key-frequency cap that guards every self-join.

AQE's skew-join splitting (on in session.py) handles most runtime skew;
these operators are for the cases you know about at plan time — the
reference's empty-dedup-key pile-up (SURVEY §4: every keyless contact
lands in ONE group) is the canonical example. A hot key turns one
reducer into the straggler that bounds the whole stage; salting fans the
hot key across ``salt_buckets`` reducers and recombines.

Semantics are identical to the unsalted operator — the oracle for a
salted aggregation is the plain GROUP BY.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from bcg_contacts_data_pipeline_spark.operators.pins import checkpoint


def salted_agg(
    df: DataFrame,
    keys: list[str],
    aggs: dict[str, tuple],
    salt_buckets: int = 16,
) -> DataFrame:
    """Two-phase aggregation with salting.

    ``aggs`` maps output column -> (partial_fn, final_fn, input_col):
    e.g. ``{"n": (F.count, F.sum, F.lit(1)), "total": (F.sum, F.sum,
    F.col("v")), "mx": (F.max, F.max, F.col("v"))}``. Phase 1 groups by
    (keys + salt) — the hot key's rows spread over ``salt_buckets``
    reducers; phase 2 combines the per-salt partials per key. Only
    decomposable aggregates (sum/count/min/max and friends) fit this
    shape — exactly the ones whose partials Spark already pushes map-side
    for NON-skewed keys; salting extends that to the reduce side.
    """
    salted = df.withColumn("__salt", _content_salt(df, salt_buckets))
    partial = salted.groupBy(*keys, "__salt").agg(
        *[
            pfn(inp).alias(f"__p_{out}")
            for out, (pfn, _ffn, inp) in aggs.items()
        ]
    )
    return partial.groupBy(*keys).agg(
        *[
            ffn(F.col(f"__p_{out}")).alias(out)
            for out, (_pfn, ffn, inp) in aggs.items()
        ]
    )


def salted_join(
    fact: DataFrame,
    dim: DataFrame,
    on: str,
    salt_buckets: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Skewed fact-to-dim equi-join: salt the fact side, EXPLODE the dim
    side across all salt values, join on (key, salt). The dim replicates
    ``salt_buckets``-fold — use only when the dim is small enough for
    that (it usually is: skew problems are fact-side) and the dim is too
    large or the join type unsuited for a plain broadcast."""
    f = fact.withColumn("__salt", _content_salt(fact, salt_buckets))
    d = dim.withColumn(
        "__salt", F.explode(F.sequence(F.lit(0), F.lit(salt_buckets - 1)))
    )
    return f.join(d, [on, "__salt"], how).drop("__salt")


def _content_salt(df: DataFrame, salt_buckets: int) -> Column:
    """Deterministic salt from row content — NOT ``F.rand``: a
    non-deterministic expression evaluated before a shuffle re-salts rows
    differently when a task retries or a partition recomputes, the
    classic Spark hazard that can drop or double-count rows mid-stage.
    A full-row hash spreads a hot key just as uniformly for distinct rows
    and stays stable under recomputation. Limitation: bit-identical
    duplicate rows share a bucket; if a hot key is millions of IDENTICAL
    rows, pre-aggregate them (a map-side combine already does) or add a
    distinguishing column before salting."""
    return F.pmod(
        F.xxhash64(F.struct(*[F.col(c) for c in df.columns])),
        F.lit(salt_buckets),
    ).cast("int")


def cap_keys(
    frame: DataFrame,
    keys: list[str],
    doc: str,
    max_df: int,
    min_df: int = 1,
) -> DataFrame:
    """The rows of ``frame`` whose key (the ``keys`` columns) is held
    by between ``min_df`` and ``max_df`` DISTINCT ``doc`` values,
    inclusive — the one posting-list / bucket frequency cap of the
    similarity and dedup stack, applied BEFORE a self-join on the key.

    Why every such join needs it: a key shared by f documents
    contributes f² join rows. A stop-shingle ("of the and") does that on
    exactly the skewed posting lists web text has, and a boilerplate
    cluster (one page mirrored 100k times) lands its members in the SAME
    LSH band bucket in EVERY band, so one cluster alone emits 10^10
    candidate rows. With the cap no key contributes more than max_df²
    rows. Semantics: pairs inside a dropped key are not generated FROM
    THAT KEY — a banded scheme still finds a pair through any other band
    that stays under the cap, and a cluster hot in every band is the
    pathological near-identical family a dedup pipeline routes to
    cluster-by-bucket handling instead of pairwise scoring. ``min_df=2``
    additionally drops keys only one document holds (they cannot pair).

    Count: documents are counted DISTINCT, so a document repeating a
    key (a paragraph or k-gram occurring twice in it) counts once. For
    inputs that carry each (key, doc) once — unique ids, one row per
    shingle / band / block per document — rows equal distinct documents,
    so the callers that used to count rows keep their semantics. A row
    whose key has a NULL column matches no key set: an upper cap alone
    (``min_df=1``) keeps it, ``min_df=2`` drops it; either way it joins
    nothing downstream.

    Shape: the count is a ``distinct`` on (keys, doc) then a plain count
    per key, so both exchanges combine map-side and the reducer of a
    degenerate key receives one row per task, not one per document
    (the ``most_complete_merge`` rule ``tools/skew_probe.py`` measures).
    A window count (one exchange on the key) would hand every row of a
    hot key to one task: with half of 4M rows on one key it ran 1.6–3x
    its uniform-key time, where this count stayed flat (4-core host).
    The frame is joined against the smaller key set — the keys past
    ``max_df`` (anti-join; bounded by rows / max_df) or, with
    ``min_df > 1``, the keys in range (semi-join) — which is
    checkpointed, so every reader shares one count, and broadcast when
    small.

    Materialization: ``frame`` is eagerly checkpointed into the open
    ``PinScope`` first, and the count and the capped rows read the
    checkpoint. The self-join callers read the capped frame at least
    twice (both join sides; the n-gram pair generator also for its
    sizes), and without it each read would re-run the input pipeline
    (tokenize, hash, explode) — ``tests/test_plans.py`` guards that the
    capped near-dup path explodes its shingles once. The price is the
    stored uncapped frame: 21 MB at sf0.1 and 209 MB on the 10x replica
    of ``tools/scale_probe.py`` for ``neardup_degree_hist``, where the
    tiny key set alone was under 1 MB."""
    frame = checkpoint(frame)
    n_docs = (
        frame.select(*keys, doc)
        .distinct()
        .groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("__df"))
    )
    if min_df <= 1:
        hot = n_docs.where(F.col("__df") > max_df)
        return frame.join(checkpoint(hot.select(*keys)), keys, "left_anti")
    kept = n_docs.where(F.col("__df").between(min_df, max_df))
    return frame.join(checkpoint(kept.select(*keys)), keys, "left_semi")
