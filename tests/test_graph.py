"""Connected components (min-label propagation)."""

from bcg_contacts_data_pipeline_spark.operators.graph import connected_components


def test_components_basic(spark):
    # {1-2-3} chain (1~2, 2~3 but never 1~3), {10-11}, isolated 99
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "id_a long, id_b long"
    )
    nodes = spark.createDataFrame([(1,), (2,), (3,), (10,), (11,), (99,)], "n long")
    got = {
        r.node: r.comp
        for r in connected_components(edges, nodes=nodes, node_col="n").collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 99: 99}


def test_components_long_chain_converges(spark):
    # a 12-node path needs several rounds; must still converge to min=0
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(11)], "id_a long, id_b long"
    )
    got = {r.node: r.comp for r in connected_components(edges).collect()}
    assert set(got.values()) == {0}
    assert len(got) == 12


def test_components_reliable_checkpoint(spark, tmp_path):
    import pytest

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "id_a long, id_b long"
    )
    # without a checkpoint dir the reliable path must fail loudly
    sc = spark.sparkContext
    if sc.getCheckpointDir() is None:
        with pytest.raises(ValueError, match="setCheckpointDir"):
            connected_components(edges, checkpoint="reliable").collect()
    sc.setCheckpointDir(str(tmp_path / "ckpt"))
    got = {
        r.node: r.comp
        for r in connected_components(edges, checkpoint="reliable").collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}

    with pytest.raises(ValueError, match="checkpoint must be"):
        connected_components(edges, checkpoint="bogus")


def test_components_max_iter_bound(spark):
    # a capped run returns (possibly unconverged) labels instead of looping
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(11)], "id_a long, id_b long"
    )
    got = {r.node: r.comp for r in connected_components(edges, max_iter=1).collect()}
    assert len(got) == 12
    assert got[0] == 0
    # one round cannot have propagated 0 to the chain's far end
    assert got[11] != 0


def test_components_reliable_matches_local_and_survives_release(
    spark, tmp_path
):
    """The cluster-grade path (checkpoint='reliable', the 100 TB
    setting) end-to-end under a PinScope: labels identical to local
    mode, checkpoint FILES actually written under the configured dir,
    the scope registered symmetrically (the same frames in both modes:
    sym plus one label frame per round, 1 + 4 rounds here), and — the
    reliable branch's contract — release is a no-op for the returned
    frame: its backing is checkpoint files, not storage blocks, so it
    stays readable after the scope closes."""
    import os

    from bcg_contacts_data_pipeline_spark.operators.pins import PinScope

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (3, 4)], "id_a long, id_b long"
    )
    nodes = spark.createDataFrame(
        [(i,) for i in [1, 2, 3, 4, 10, 11, 99]], "n long"
    )

    with PinScope() as local_scope:
        local = {
            r.node: r.comp
            for r in connected_components(
                edges, nodes=nodes, node_col="n", checkpoint="local"
            ).collect()
        }
        n_local = len(local_scope)

    ckdir = tmp_path / "ck_reliable"
    spark.sparkContext.setCheckpointDir(str(ckdir))
    with PinScope() as scope:
        rel = connected_components(
            edges, nodes=nodes, node_col="n", checkpoint="reliable"
        )
        reliable = {r.node: r.comp for r in rel.collect()}
        n_reliable = len(scope)

    assert reliable == local == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 99: 99}
    # symmetric scope accounting in both modes
    assert n_reliable == n_local == 5

    # reliable mode really wrote fault-tolerance artifacts to the dir
    written = [
        os.path.join(d, f)
        for d, _, fs in os.walk(ckdir)
        for f in fs
    ]
    assert written, "no checkpoint files under the configured dir"

    # the scope's release (on exit above) must NOT invalidate the
    # returned frame: the registered releaser is a no-op (files are the
    # fault-tolerance artifact; spark.cleaner.referenceTracking
    # .cleanCheckpoints governs their lifetime, not the scope)
    assert len(scope) == 0
    assert {r.node: r.comp for r in rel.collect()} == reliable
    assert [
        os.path.join(d, f) for d, _, fs in os.walk(ckdir) for f in fs
    ], "release() must not delete reliable checkpoint files"


def test_star_components_basic_and_chain_round_bound(spark):
    """The alternating star algorithm labels the same components as
    min-label propagation, and converges on a 200-node path within
    max_iter=12 alternations — O(log n), where min-label needs
    diameter (199) rounds. The cap doubles as the proof: a
    non-contracted graph at round 12 would return wrong labels."""
    from bcg_contacts_data_pipeline_spark.operators.graph import (
        connected_components_star,
    )

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "id_a long, id_b long"
    )
    nodes = spark.createDataFrame(
        [(1,), (2,), (3,), (10,), (11,), (99,)], "n long"
    )
    got = {
        r.node: r.comp
        for r in connected_components_star(
            edges, nodes=nodes, node_col="n"
        ).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 99: 99}

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(199)], "id_a long, id_b long"
    )
    labs = {
        r.node: r.comp
        for r in connected_components_star(chain, max_iter=12).collect()
    }
    assert len(labs) == 200
    assert set(labs.values()) == {0}


def test_star_components_match_min_label_on_random_graphs(spark):
    """Property: both CC algorithms produce identical labelings on
    random graphs (deterministic seeds — Date/random are fine in
    tests, just not in workflow scripts)."""
    import random

    from bcg_contacts_data_pipeline_spark.operators.graph import (
        connected_components_star,
    )

    for seed in (7, 13, 99):
        rng = random.Random(seed)
        n = 60
        m = rng.randrange(20, 80)
        pairs = {
            tuple(sorted(rng.sample(range(n), 2))) for _ in range(m)
        }
        edges = spark.createDataFrame(
            [(a, b) for a, b in sorted(pairs)], "id_a long, id_b long"
        )
        nodes = spark.createDataFrame([(i,) for i in range(n)], "x long")
        a = {
            r.node: r.comp
            for r in connected_components(
                edges, nodes=nodes, node_col="x"
            ).collect()
        }
        b = {
            r.node: r.comp
            for r in connected_components_star(
                edges, nodes=nodes, node_col="x"
            ).collect()
        }
        assert a == b, (seed, {k: (a[k], b.get(k)) for k in a if a[k] != b.get(k)})


def test_star_round_aggregates_are_partial(spark):
    """The star operations groupBy a node id whose neighborhood can be
    the WHOLE component (a converged star's hub) — the scale defense is
    map-side partial aggregation of the min (associative), bounding the
    hub reducer's input at #map_tasks rows. Pin partial_min upstream of
    the exchange in a large-star round's plan."""
    import pyspark.sql.functions as F

    e = spark.createDataFrame(
        [(i, i + 1) for i in range(50)], "u long, v long"
    )
    sym = e.select("u", "v").unionByName(
        e.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    mins = sym.groupBy("u").agg(
        F.least(F.min("v"), F.first("u")).alias("m")
    )
    plan = mins._jdf.queryExecution().executedPlan().toString()
    below_exchange = plan.split("Exchange", 1)[1]
    assert "partial_min" in below_exchange, plan


def test_incremental_components_equals_full_recompute(spark):
    """Merging new edges into an old labeling via component contraction
    must be bit-identical to CC over the union — covering: merges of
    two old components, a new node bridging three, new-node-only
    components, untouched old components, and old singletons."""
    from bcg_contacts_data_pipeline_spark.operators.graph import (
        connected_components,
        incremental_components,
    )

    old_edges = spark.createDataFrame(
        [(1, 2), (3, 4), (6, 7), (10, 11)], "id_a long, id_b long"
    )
    old_nodes = spark.createDataFrame(
        [(n,) for n in (1, 2, 3, 4, 5, 6, 7, 10, 11)], "node long"
    )
    old = connected_components(
        old_edges, nodes=old_nodes, node_col="node"
    )
    new_edges = spark.createDataFrame(
        [
            (2, 3),     # merges {1,2} with {3,4}
            (20, 4),    # new node joins the merged component
            (20, 6),    # ... and bridges in {6,7}
            (30, 31),   # brand-new component, both nodes unseen
            (5, 5),     # self-loop on an old singleton: no-op
        ],
        "id_a long, id_b long",
    )
    got = {
        (r.node, r.comp)
        for r in incremental_components(old, new_edges).collect()
    }
    full = connected_components(
        old_edges.unionByName(new_edges), nodes=old_nodes, node_col="node"
    )
    want = {(r.node, r.comp) for r in full.collect()}
    assert got == want
    # spot-check the interesting labels
    d = dict(got)
    assert d[20] == 1 and d[6] == 1 and d[7] == 1  # bridged via 20
    assert d[30] == 30 and d[31] == 30             # new-only component
    assert d[5] == 5 and d[10] == 10               # untouched


def _uf_components(edges, nodes):
    """Python union-find model: node -> min-id component label."""
    parent = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in nodes}


def test_incremental_components_property(spark):
    """Hypothesis: for ANY old graph and ANY new edge batch, merging the
    batch into the old min-label components via contraction equals
    union-find over the full union — including merges chaining through
    several old components, batches touching only new nodes, and empty
    batches. The old labeling is produced by the MODEL (as a persisted
    table would be), so the test exercises exactly the production
    shape: stored labels + today's edges."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from bcg_contacts_data_pipeline_spark.operators.graph import (
        incremental_components,
    )

    edge = st.tuples(
        st.integers(min_value=0, max_value=15),
        st.integers(min_value=0, max_value=15),
    )

    @given(
        old=st.lists(edge, min_size=0, max_size=10),
        new=st.lists(edge, min_size=1, max_size=8),
    )
    @settings(
        max_examples=6,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    def run(old, new):
        old_nodes = sorted({n for e in old for n in e} | set(range(0, 6)))
        old_model = _uf_components(old, old_nodes)
        old_labels = spark.createDataFrame(
            [(n, c) for n, c in old_model.items()], "node long, comp long"
        )
        new_df = spark.createDataFrame(new, "id_a long, id_b long")
        got = {
            (r.node, r.comp)
            for r in incremental_components(old_labels, new_df).collect()
        }
        all_nodes = set(old_nodes) | {n for e in new for n in e}
        want = set(_uf_components(old + new, sorted(all_nodes)).items())
        assert got == want, (old, new)

    run()
