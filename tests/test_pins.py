"""Scoped persist-pin release (operators/pins.PinScope).

The load-bearing persists (renumber / global_running_sum freeze a
sampled range partitioning; LSH signature frames are scanned twice) must
be releasable per-plan, not only via session-wide clearCache — a
long-lived session running many pipelines would otherwise accumulate
cached frames (round-4 advisor flag). These tests pin the contract:
operators register their persists and checkpoints in the open PinScope,
results stay correct, and closing the scope drops every pin (storage
level back to NONE; the CLI returns the session's persistent-RDD count
to its pre-run value).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from bcg_contacts_data_pipeline_spark.operators.dedup import renumber
from bcg_contacts_data_pipeline_spark.operators.pack import pack_shards
from bcg_contacts_data_pipeline_spark.operators.pins import PinScope, pin
from bcg_contacts_data_pipeline_spark.operators.similarity import (
    minhash_lsh_pairs,
)


def _n_persistent_rdds(spark) -> int:
    return spark.sparkContext._jsc.sc().getPersistentRDDs().size()


def test_renumber_registers_and_releases_pin(spark):
    df = spark.range(100).select(F.col("id"), (F.col("id") % 7).alias("k"))
    with PinScope() as scope:
        out = renumber(df, [F.col("k"), F.col("id")], seq_name="n")
        assert len(scope) == 1
        rows = out.orderBy("n").collect()
        assert [r["n"] for r in rows] == list(range(1, 101))
        pinned = scope._frames[0][0]
        assert pinned.storageLevel.useMemory or pinned.storageLevel.useDisk
    assert len(scope) == 0
    lvl = pinned.storageLevel
    assert not (lvl.useMemory or lvl.useDisk), lvl


def test_pack_shards_scope_as_context_manager(spark):
    df = spark.range(50).select(
        F.col("id"), (F.lit(10)).alias("sz")
    )
    with PinScope() as scope:
        out = pack_shards(df, "id", "sz", budget=100)
        got = {r["id"]: r["shard_id"] for r in out.collect()}
        assert len(scope) == 1
        pinned = scope._frames[0][0]
    # context exit released the pin
    assert got[0] == 0 and got[9] == 0 and got[10] == 1 and got[49] == 4
    lvl = pinned.storageLevel
    assert not (lvl.useMemory or lvl.useDisk), lvl


def test_minhash_pairs_pin_scope(spark):
    docs = spark.createDataFrame(
        [(i, "the quick brown fox jumps over the lazy dog " + ("x" if i % 2 else "y"))
         for i in range(20)],
        ["doc_id", "text"],
    )
    with PinScope() as scope:
        pairs = minhash_lsh_pairs(docs, "doc_id", F.col("text"))
        n = pairs.count()
        assert len(scope) == 1
    assert n > 0  # near-identical docs must collide
    assert len(scope) == 0


def test_release_is_idempotent(spark):
    df = spark.range(10)
    with PinScope() as scope:
        pin(df)
        assert len(scope) == 1
    # the exit released once; further releases are no-ops, not errors
    scope.release()
    scope.release()
    assert len(scope) == 0


def test_pipeline_cli_returns_pin_count_to_baseline(spark, tmp_path):
    """End-to-end: after run_cli finishes (all sinks written), the
    session's persistent-RDD count is back to its pre-run value — the
    renumber pins and the errors persist are all scoped to the run."""
    from tests.test_pipeline_cli import _write_fixtures
    from bcg_contacts_data_pipeline_spark.pipeline import run_cli

    master, src, _skip = _write_fixtures(tmp_path)
    before = _n_persistent_rdds(spark)
    rc = run_cli(
        [master, str(tmp_path / "out"), "--sources", src, "--single-file"],
        spark=spark,
    )
    assert rc == 0
    # <=, not ==: the run must add NO pins of its own, but Spark's
    # ContextCleaner may asynchronously free UNRELATED leftovers from
    # earlier tests (GC-able localCheckpoint blocks) while the pipeline
    # runs — observed when test_graph precedes this file directly
    assert _n_persistent_rdds(spark) <= before


def test_curation_frame_scope_returns_pins_to_zero(spark):
    """curation_frame registers every materialization in the open
    PinScope (round-5 verdict: the unscoped registered query leaked one
    cached frame per invocation in a long-lived session). With a scope:
    result materializes correctly, the scope holds every frame the
    query materialized — the `kept` persist, the ngram pair
    generator's two cap checkpoints (the shingles and the set of
    shingles past max_df), and connected_components' sym plus
    one label checkpoint per round (the superseded rounds and sym are
    also freed eagerly inside the operator; their second free on
    release is a no-op) — and closing it returns the session's
    persistent-RDD count to its pre-call value."""
    from bcg_contacts_data_pipeline_spark.plans.q_curation import (
        curation_frame,
    )
    from tests.conftest import SF_SMALL

    before = _n_persistent_rdds(spark)
    with PinScope() as scope:
        out = curation_frame(spark, SF_SMALL)
        rows = out.collect()
        assert len(rows) >= 1 and all(r["n_docs"] >= 1 for r in rows)
        # kept, shingles, hot-shingle set, CC sym, 2 label rounds
        # (sf0.001 converges in 2)
        assert len(scope) == 6
    assert len(scope) == 0
    # <= for the same ContextCleaner-background-free reason as above
    assert _n_persistent_rdds(spark) <= before
