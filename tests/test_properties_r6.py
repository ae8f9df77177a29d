"""Property-based tests for the round-6 operators: blocked embedding
pair generation vs a direct brute-force model, and gap-fill density /
forward-fill semantics vs a Python replay.

Same strategy as test_properties.py: small generated inputs, the Spark
operator vs a direct Python model of the declared semantics.
"""

from __future__ import annotations

import math

import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

from bcg_contacts_data_pipeline_spark.operators.similarity import (
    embedding_pairs,
    embedding_topk,
)

SETTINGS = dict(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


# ---------------------------------------------------------------------------
# embedding_pairs: the blocked upper-triangle cogroup must produce
# exactly the brute-force pair set for any vectors, any block count —
# including duplicate-row absorption and ids hashing into few blocks
# ---------------------------------------------------------------------------

vec = st.lists(
    st.floats(
        min_value=-2.0, max_value=2.0, allow_nan=False, allow_infinity=False
    ),
    min_size=3,
    max_size=3,
)


@given(
    st.lists(vec, min_size=2, max_size=12, unique_by=tuple),
    st.sampled_from([0.3, 0.7, 0.95]),
    st.integers(min_value=1, max_value=5),
)
@settings(**SETTINGS)
def test_embedding_pairs_matches_brute_force(spark, vecs, threshold, blocks):
    # a zero vector has no cosine; keep vectors away from the origin
    vecs = [v for v in vecs if math.sqrt(sum(x * x for x in v)) > 1e-6]
    if len(vecs) < 2:
        return
    rows = [(i, v) for i, v in enumerate(vecs)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {
        (r.id_a, r.id_b)
        for r in embedding_pairs(
            df, "vec_id", "embedding", threshold, corpus_blocks=blocks
        ).collect()
    }

    def cos(a, b):
        dot = 0.0
        for x, y in zip(a, b):
            dot += x * y  # same sequential fold as _seq_scores
        na = math.sqrt(sum(x * x for x in a))
        nb = math.sqrt(sum(y * y for y in b))
        return dot / (na * nb)

    want = {
        (a, b)
        for a in range(len(vecs))
        for b in range(a + 1, len(vecs))
        if cos(vecs[a], vecs[b]) >= threshold
    }
    assert got == want


# ---------------------------------------------------------------------------
# embedding_topk: every upper-triangle grid cell emits the local top-k of
# its lo rows over its hi rows and, off the diagonal only, of hi over lo —
# so the ranked union must equal a brute-force model for any block count,
# with ties, k past the corpus size, and ineligible vectors (NULL,
# all-zero, NaN) that neither query nor match
# ---------------------------------------------------------------------------

NAN = float("nan")

topk_vec = st.one_of(
    st.none(),
    st.lists(
        st.sampled_from([-1.0, 0.0, 0.5, 1.0, 2.0, NAN]), min_size=3, max_size=3
    ),
)


def _seq_cos(a, b):
    """Cosine with every sum folded left to right, as ``_seq_scores``
    does (``sum`` of floats is compensated on Python >= 3.12)."""
    dot = na = nb = 0.0
    for x, y in zip(a, b):
        dot += x * y
        na += x * x
        nb += y * y
    return dot / (math.sqrt(na) * math.sqrt(nb))


def _topk_model(vecs, k):
    """{(query_id, rank): (neighbor_id, score)}: the query itself
    excluded, ties broken by neighbor_id ascending."""
    ok = {
        i: v
        for i, v in enumerate(vecs)
        if v is not None
        and any(x != 0.0 for x in v)
        and not any(math.isnan(x) for x in v)
    }
    want = {}
    for q, qv in ok.items():
        ranked = sorted(
            ((-_seq_cos(qv, cv), c) for c, cv in ok.items() if c != q)
        )[:k]
        for rank, (neg, c) in enumerate(ranked, start=1):
            want[(q, rank)] = (c, -neg)
    return want


@pytest.mark.parametrize("blocks", [1, 2, 3])
@given(
    st.lists(topk_vec, min_size=1, max_size=10),
    st.sampled_from([1, 2, 3, 20]),
)
@example(
    vecs=[
        [1.0, 0.0, 0.0],
        [1.0, 0.0, 0.0],
        [2.0, 0.0, 0.0],
        [0.5, 1.0, -1.0],
        None,
        [0.0, 0.0, 0.0],
        [NAN, 1.0, 0.0],
        [-1.0, 2.0, 0.5],
        [0.0, 1.0, 1.0],
    ],
    k=20,
)
@settings(**SETTINGS)
def test_embedding_topk_matches_brute_force(spark, blocks, vecs, k):
    df = spark.createDataFrame(
        list(enumerate(vecs)), "vec_id long, embedding array<double>"
    )
    got = {
        (r.query_id, r.rank): (r.neighbor_id, r.score)
        for r in embedding_topk(
            df, "vec_id", "embedding", k=k, corpus_blocks=blocks
        ).collect()
    }
    assert got == _topk_model(vecs, k)


# ---------------------------------------------------------------------------
# gapfill_forward_fill: dense axis exactly spans each key's range, and
# v_filled replays as "last observed per-unit sum" in a Python model
# ---------------------------------------------------------------------------

event = st.tuples(
    st.integers(min_value=0, max_value=2),  # key
    st.integers(min_value=0, max_value=72),  # hour offset
    st.integers(min_value=-1000, max_value=1000),  # value in cents
)


@given(st.lists(event, min_size=1, max_size=30))
@settings(**SETTINGS)
def test_gapfill_matches_python_replay(spark, events):
    from datetime import datetime, timedelta

    from bcg_contacts_data_pipeline_spark.operators.temporal import (
        gapfill_forward_fill,
    )

    base = datetime(2024, 3, 1)
    rows = [
        (k, base + timedelta(hours=h, minutes=(v % 50) + 1), v / 100.0)
        for k, h, v in events
    ]
    df = spark.createDataFrame(
        rows, "user_id int, ts timestamp, value double"
    )
    got = {
        (r.user_id, r.hour): (r.n_events, r.v_filled, r.is_gap)
        for r in gapfill_forward_fill(
            df, "user_id", "ts", "value", unit="hour"
        ).collect()
    }

    # python replay: per-key hourly sums, dense axis, forward fill
    from collections import defaultdict

    sums: dict = defaultdict(lambda: defaultdict(float))
    counts: dict = defaultdict(lambda: defaultdict(int))
    for k, ts, v in rows:
        h = ts.replace(minute=0, second=0, microsecond=0)
        sums[k][h] += v
        counts[k][h] += 1
    want = {}
    for k in sums:
        hs = sorted(sums[k])
        cur = hs[0]
        last = None
        while cur <= hs[-1]:
            if cur in sums[k]:
                last = round(sums[k][cur], 6)  # decimal(18,6) agg
                want[(k, cur)] = (counts[k][cur], last, False)
            else:
                want[(k, cur)] = (0, last, True)
            cur += timedelta(hours=1)
    assert set(got) == set(want)
    for key in want:
        wn, wv, wg = want[key]
        gn, gv, gg = got[key]
        assert (gn, gg) == (wn, wg), (key, got[key], want[key])
        assert gv == pytest.approx(wv, abs=1e-9), (key, gv, wv)

