"""Connected components over a pair graph — the closure step of the
dedup family.

The similarity operators (ngram_jaccard_pairs / minhash_lsh_pairs /
simhash_pairs / embedding_neardup) emit PAIRS; deduplicating a corpus
needs CLUSTERS: if A~B and B~C, then {A,B,C} is one duplicate group even
though A~C was never scored. This is connected components, the standard
final stage of large-scale near-dup dedup pipelines.

Algorithm: iterated label propagation to the minimum ("hash-to-min"
style). Each node's label starts as its own id; every round each node
adopts the min label in its closed neighborhood; converged when no label
changes. Rounds needed = graph diameter (near-dup graphs are shallow —
a handful of rounds in practice; ``max_iter`` bounds pathological
chains).

Scale shape per round: one join edges->labels + one groupBy min — both
partitioned by node id, no driver-side data except the single converged?
counter (an aggregate). Edges are held in BOTH directions once
(symmetrized up front) so each round is a single equi-join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from bcg_contacts_data_pipeline_spark.operators.pins import (
    checkpoint as _checkpoint,
    free_local_checkpoint,
)


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    nodes: DataFrame | None = None,
    node_col: str | None = None,
    max_iter: int | None = None,
    checkpoint: str = "local",
) -> DataFrame:
    """(node, component) with component = min node id of the component.

    ``nodes`` (optional) adds isolated vertices that appear in no edge —
    pass the full corpus so singletons come out labeled too.

    ``max_iter``: adaptive by default (``None`` — iterate until the
    changed-label count reaches zero; min-label propagation terminates in
    at most graph-diameter rounds, so the loop is finite without a cap).
    Pass a bound to trade completeness for a latency ceiling on
    pathological chain graphs; hitting the bound returns the (possibly
    unconverged) labels.

    ``checkpoint``: per-round lineage truncation strategy —
    - ``"local"`` (default): ``localCheckpoint`` — executor-local blocks,
      no configuration needed; right for local mode and short jobs. A
      lost executor loses blocks and fails the job (no lineage left to
      recompute from).
    - ``"reliable"``: ``checkpoint`` to the fault-tolerant FS configured
      via ``spark.sparkContext.setCheckpointDir`` — survives executor
      loss; the right choice for long-running cluster jobs at scale.

    Checkpoint block lifetime (local mode): each round's label
    checkpoint is freed as soon as the next round has materialized, so
    live block storage is bounded at sym + 2 label frames regardless of
    graph diameter (a 50-round pathological chain no longer holds 50
    label snapshots until GC). sym is not needed after the loop and is
    freed on exit; the FINAL labels back the returned DataFrame and are
    released with the open ``PinScope`` (operators/pins.py).
    """
    if checkpoint not in ("local", "reliable"):
        raise ValueError(f"checkpoint must be 'local' or 'reliable', got {checkpoint!r}")
    reliable = checkpoint == "reliable"

    # Materialize the symmetrized edge list ONCE: it is joined every
    # round, and without this the upstream pair computation (e.g. the
    # whole ngram-Jaccard pipeline) would re-execute per iteration —
    # measured ~6x slower on a 5-round graph. Symmetrization is a
    # row-local explode, NOT a self-union: union branches are separate
    # subtrees with zero exchange/scan reuse (verified: the union form
    # plans 2x the FileScans and 2x the pair pipeline's exchanges), so
    # a union would execute the upstream pair generator twice just to
    # emit each edge reversed.
    sym = _checkpoint(
        edges.select(
            F.explode(
                F.array(
                    F.struct(F.col(src).alias("u"), F.col(dst).alias("v")),
                    F.struct(F.col(dst).alias("u"), F.col(src).alias("v")),
                )
            ).alias("__e")
        )
        .select("__e.u", "__e.v")
        .distinct(),
        reliable,
    )
    verts = sym.select(F.col("u").alias("node")).distinct()
    if nodes is not None:
        extra = nodes.select(
            F.col(node_col or nodes.columns[0]).alias("node")
        ).distinct()
        verts = verts.unionByName(extra).distinct()

    comp_type = verts.schema["node"].dataType
    labels = verts.select("node", F.col("node").alias("comp"))
    prev_ck: DataFrame | None = None  # superseded round checkpoint
    rounds = 0
    while max_iter is None or rounds < max_iter:
        rounds += 1
        # each node: min(own label, labels of neighbors). The self row
        # carries the previous label in ``old`` (neighbor rows carry
        # NULL, which min() ignores), so the convergence check below is
        # a filter over the aggregate's own output — no extra
        # labels-vs-new-labels join per round.
        nbr = (
            sym.join(labels.withColumnRenamed("node", "v"), "v")
            .select(
                F.col("u").alias("node"),
                "comp",
                F.lit(None).cast(comp_type).alias("old"),
            )
        )
        new_labels = (
            labels.select("node", "comp", F.col("comp").alias("old"))
            .unionByName(nbr)
            .groupBy("node")
            .agg(F.min("comp").alias("comp"), F.min("old").alias("old"))
        )
        # Checkpointing truncates the growing lineage (iterative plans
        # re-expand otherwise and planning cost compounds per round) and
        # lets the changed-count action reuse the materialized result.
        # Eager on purpose (re-verified r13): a lazy localCheckpoint
        # materialized by the count LOOKS like one job saved per round,
        # but measured 5.3 s -> 8.0 s on dedup_components — the eager
        # path checkpoints the AQE-finalized (coalesced) result, while
        # the lazy path caches the pre-adaptive 32-partition RDD carved
        # out at checkpoint-call time and every later round pays the
        # un-coalesced partitioning.
        #
        # The convergence count rides the checkpoint's own job as an
        # observed metric (guide §7.3/§2.6 — per-round ACTIONS, not
        # data, dominate the loop's fixed cost): the eager checkpoint
        # already computes every row, so count_if(comp != old) costs
        # nothing extra, and the separate post-checkpoint .count() job
        # disappears — ONE job per round instead of two. Verified on
        # this Spark: both Dataset.localCheckpoint and the reliable
        # Dataset.checkpoint run through withAction, so CollectMetrics
        # fires on the checkpoint job (probe in OPTIMIZATION_r15.md).
        # `old` is never NULL (every node carries a self row), so
        # count_if equals the old filter().count() exactly.
        obs = Observation()
        new_labels = new_labels.observe(
            obs, F.count_if(F.col("comp") != F.col("old")).alias("changed")
        )
        new_labels = _checkpoint(new_labels, reliable)
        changed = obs.get["changed"]
        # The new round is fully materialized (eager checkpoint + the
        # count action above); the previous round's blocks can never be
        # read again — free them now instead of waiting for GC.
        if not reliable and prev_ck is not None:
            free_local_checkpoint(prev_ck)
        prev_ck = new_labels
        labels = new_labels.select("node", "comp")
        if changed == 0:
            break
    # prev_ck is None only when max_iter=0 skipped the loop entirely —
    # then the returned labels still derive from sym, which must stay.
    if not reliable and prev_ck is not None:
        free_local_checkpoint(sym)
    return labels


def connected_components_star(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    nodes: DataFrame | None = None,
    node_col: str | None = None,
    max_iter: int = 50,
    checkpoint: str = "local",
) -> DataFrame:
    """(node, comp) via the alternating large-star / small-star
    algorithm ("Connected Components in MapReduce and Beyond", Kiveris
    et al., 2014 — public) — the HIGH-DIAMETER twin of
    ``connected_components``.

    Min-label propagation needs diameter-many rounds: fine for near-dup
    graphs (shallow by construction), quadratic wall-time on a
    pathological chain. The star operations contract paths
    exponentially — O(log n) rounds on any graph:

    - large-star: per node u with m = min(N(u) ∪ {u}), rewire every
      LARGER neighbor v > u to m;
    - small-star: orient edges large→small, per node u rewire every
      smaller neighbor (and u itself) to the local minimum.

    Both are one aggregation + one join over the edge list — same
    per-round cost shape as a min-label round, far fewer rounds when
    the graph is deep. Convergence = the edge set is a fixed point
    (checked with an order-insensitive xor/count fingerprint that rides
    the round's own checkpoint job as an observed metric — no extra
    join, no extra action). The result is a star forest: every node points at its
    component's minimum, which matches ``connected_components``' label
    contract exactly (property-tested equivalence in
    tests/test_graph.py).

    Same ``checkpoint`` contract as ``connected_components`` ("local"
    or "reliable") — each round's edge frame is materialized and
    lineage-truncated, superseded rounds freed eagerly in local mode.
    """
    if checkpoint not in ("local", "reliable"):
        raise ValueError(
            f"checkpoint must be 'local' or 'reliable', got {checkpoint!r}"
        )
    reliable = checkpoint == "reliable"

    def _truncate_fp(df: DataFrame) -> tuple[DataFrame, tuple]:
        """Materialize a round's edge frame AND read its convergence
        fingerprint from the SAME job: the order-insensitive
        (count, xor-of-edge-hashes) pair rides the eager checkpoint as
        an observed metric instead of a second collect action (guide
        §7.3/§2.6 — per-round actions, not data, dominate a loop whose
        contracted graph is tiny; same fusion as the CC loop's changed
        count)."""
        obs = Observation()
        ck = _checkpoint(
            df.observe(
                obs,
                F.count(F.lit(1)).alias("n"),
                F.bit_xor(F.xxhash64("u", "v")).alias("x"),
            ),
            reliable,
        )
        m = obs.get
        return ck, (m["n"], m["x"])

    def _large_star(e: DataFrame) -> DataFrame:
        # row-local explode, not a self-union (the connected_components
        # sym finding): e is checkpointed, but a union would still plan
        # and execute the materialized scan + downstream twice per
        # consumer
        sym = e.select(
            F.explode(
                F.array(
                    F.struct(F.col("u"), F.col("v")),
                    F.struct(
                        F.col("v").alias("u"), F.col("u").alias("v")
                    ),
                )
            ).alias("__e")
        ).select("__e.u", "__e.v")
        mins = sym.groupBy("u").agg(
            F.least(F.min("v"), F.first("u")).alias("m")
        )
        return (
            sym.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .distinct()
        )

    def _small_star(e: DataFrame) -> DataFrame:
        # orient large -> small so every node's neighborhood is its
        # smaller endpoints
        oriented = e.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        )
        mins = oriented.groupBy("u").agg(F.min("v").alias("m"))
        nbr = (
            oriented.join(mins, "u")
            .select(F.col("v").alias("n"), F.col("m"), F.col("u"))
        )
        selfrows = mins.select(F.col("u").alias("n"), "m", F.col("u"))
        return (
            nbr.unionByName(selfrows)
            .filter(F.col("n") != F.col("m"))
            .select(F.col("n").alias("u"), F.col("m").alias("v"))
            .distinct()
        )

    e, fp = _truncate_fp(
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    for _ in range(max_iter):
        # the large-star result is materialized before small-star reads
        # it: small-star references its input twice (mins + the rewire
        # join), so an unmaterialized large-star subtree would execute
        # twice per round (r14; same per-consumer recompute rule as the
        # CC loop's label checkpoints). The intermediate's blocks are
        # freed as soon as the round's result exists.
        ls = _checkpoint(_large_star(e), reliable)
        nxt, nfp = _truncate_fp(_small_star(ls))
        if not reliable:
            free_local_checkpoint(ls)
            free_local_checkpoint(e)
        e = nxt
        if nfp == fp:
            break
        fp = nfp

    # star forest: every u points at its root v (= component min); roots
    # and isolated vertices label themselves
    labels = e.select(F.col("u").alias("node"), F.col("v").alias("comp"))
    members = labels.select("node")
    roots = e.select(F.col("v").alias("node")).distinct().join(
        members, "node", "left_anti"
    )
    out = labels.unionByName(
        roots.select("node", F.col("node").alias("comp"))
    )
    if nodes is not None:
        extra = (
            nodes.select(F.col(node_col or nodes.columns[0]).alias("node"))
            .distinct()
            .join(out.select("node"), "node", "left_anti")
        )
        out = out.unionByName(
            extra.select("node", F.col("node").alias("comp"))
        )
    return out


def incremental_components(
    old_labels: DataFrame,
    new_edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    node_col: str = "node",
    comp_col: str = "comp",
    checkpoint: str = "local",
) -> DataFrame:
    """Merge a batch of NEW edges into an existing min-label component
    labeling without recomputing the historical graph — the incremental
    daily-crawl shape for dedup clustering, the components sibling of
    the incremental pair generators (`similarity.prefix_filter_pairs`'s
    ``probe_pred`` and `dedup.py`'s incremental hash join).

    Algebra: with ``old_labels`` = CC(G_old) where every component label
    is the component's minimum node id, CC(G_old ∪ E_new) is obtained by
    CONTRACTING each old component to its label and running CC on the
    contracted graph only: map both endpoints of every new edge through
    the labeling (endpoints never seen before label themselves), drop
    the edges that land inside one component, and propagate min-labels
    over what remains. The contracted graph has one node per AFFECTED
    component — at 100 TB that is proportional to today's batch and its
    collisions, never to the historical corpus; history×history work is
    O(0). Final labels stay minimum-node-ids: min over a merged set of
    old components' labels (each already a min) and new node ids is the
    min over all member nodes, so the output is bit-identical to a
    from-scratch CC over the union — which is exactly what the oracle
    checks.

    Returns (node, comp) covering every old node and every node
    appearing in ``new_edges``.

    Lineage/blocks: the batch edges AND the labeling are each
    materialized once (they feed several consumers; an expensive
    upstream lineage — a pair generator, a corpus-scale labeling scan —
    would otherwise re-execute per branch: measured 12.6 s -> ~3 s on
    the prefix-filtered jaccard chain at sf0.1). The edge blocks are
    freed as soon as the delta labels are materialized (nothing in the
    result reaches them); the labeling checkpoints BACK the returned
    frame and are released with the open ``PinScope``, same as
    ``connected_components``' final labels.
    """
    if checkpoint not in ("local", "reliable"):
        raise ValueError(
            f"checkpoint must be 'local' or 'reliable', got {checkpoint!r}"
        )
    reliable = checkpoint == "reliable"

    edges = _checkpoint(
        new_edges.select(F.col(src).alias("__ea"), F.col(dst).alias("__eb")),
        reliable,
    )
    base = _checkpoint(
        old_labels.select(
            F.col(node_col).alias("node"), F.col(comp_col).alias("comp")
        ),
        reliable,
    )
    # endpoints never seen before: they label themselves (singleton
    # components) before the merge, exactly as CC would seed them
    new_nodes = _checkpoint(
        edges.select(F.col("__ea").alias("node"))
        .unionByName(edges.select(F.col("__eb").alias("node")))
        .distinct()
        .join(base.select("node"), "node", "left_anti"),
        reliable,
    )
    # lazy union of two MATERIALIZED frames: cheap per consumer
    labeled = base.unionByName(
        new_nodes.select("node", F.col("node").alias("comp"))
    )

    la = labeled.select(F.col("node").alias("__ea"), F.col("comp").alias("__ca"))
    lb = labeled.select(F.col("node").alias("__eb"), F.col("comp").alias("__cb"))
    contracted = (
        edges.join(la, "__ea")
        .join(lb, "__eb")
        .select(F.col("__ca").alias("id_a"), F.col("__cb").alias("id_b"))
        .filter(F.col("id_a") != F.col("id_b"))
    )
    delta = connected_components(
        contracted, "id_a", "id_b", checkpoint=checkpoint
    ).select(F.col("node").alias("comp"), F.col("comp").alias("__merged"))
    # delta is fully materialized by connected_components' eager final
    # checkpoint — the batch-edge blocks are unreachable from here on
    if not reliable:
        free_local_checkpoint(edges)

    return labeled.join(delta, "comp", "left").select(
        "node", F.coalesce("__merged", "comp").alias("comp")
    )
