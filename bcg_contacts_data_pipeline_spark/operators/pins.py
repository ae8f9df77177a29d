"""Scoped materialization — the one module that persists, checkpoints
and releases frames.

Several operators materialize an intermediate frame as part of their
correctness or cost contract: renumber / global_running_sum persist a
frame to freeze a sampled range partitioning, the LSH operators share
signature frames between band-bucketing and verify, and the iterative
operators (connected components, PageRank hops) checkpoint every round
to truncate lineage. Those frames must survive until the CALLER has
materialized the operator's output — the operator can never know when
that is — and in a long-lived session serving many queries a frame
that outlives its query is a storage-memory leak.

The contract is ambient. A caller opens a scope around a query's build
and its sinks::

    with PinScope():
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()

and every :func:`pin` and :func:`checkpoint` run while the scope is open
registers its frame there; leaving the block releases exactly those
frames (persists unpersisted, local-checkpoint blocks freed). No
session-wide ``clearCache()``, no foreign caches touched, and no
operator takes a scope argument. Scopes nest; the innermost open one
collects.

With no scope open, ``pin`` and ``checkpoint`` fall back to the
untracked session-lifetime behavior: a persist lives until
``clearCache()``, a checkpoint's blocks until Spark's ContextCleaner
collects them. Short-lived callers that open none (one-shot registry
queries) pay no ceremony. No operator branches on whether a scope is
open: a frame materializes the same way either way, and only its
release differs.
"""

from __future__ import annotations

from contextvars import ContextVar

from pyspark.sql import DataFrame

_CURRENT: ContextVar["PinScope | None"] = ContextVar("pin_scope", default=None)


def free_local_checkpoint(df: DataFrame) -> None:
    """Best-effort release of a ``localCheckpoint``'s materialized blocks.

    ``DataFrame.unpersist`` only touches the SQL cache; a checkpoint's
    blocks belong to the underlying RDD, reachable through the
    ``LogicalRDD`` plan node. Spark's ContextCleaner would free them
    eventually (when the JVM-side RDD is garbage collected), but an
    iterative operator that checkpoints per round should not hold every
    round's blocks until GC. Freeing makes the frame UNRECOMPUTABLE
    (lineage was truncated) — only call once nothing will read it again.
    A second free is a no-op. Guarded: the accessor path is
    Spark-internal, so any mismatch degrades to the ContextCleaner
    behavior instead of failing the job.
    """
    try:
        df._jdf.queryExecution().analyzed().rdd().unpersist(False)
    except Exception:
        pass


def _keep(df: DataFrame) -> None:
    """Reliable-checkpoint files are the fault-tolerance artifact: they
    outlive the scope by design (``spark.cleaner.referenceTracking
    .cleanCheckpoints`` governs them), so release leaves them alone."""


class PinScope:
    """Collects the frames materialized while it is open and releases
    exactly those on exit. Release is idempotent and non-blocking
    (executors drop blocks asynchronously)."""

    def __init__(self) -> None:
        self._frames: list[tuple[DataFrame, object]] = []
        self._token = None

    def __len__(self) -> int:
        return len(self._frames)

    def release(self) -> None:
        frames, self._frames = self._frames, []
        for df, releaser in frames:
            releaser(df)

    def __enter__(self) -> "PinScope":
        self._token = _CURRENT.set(self)
        return self

    def __exit__(self, *exc) -> None:
        _CURRENT.reset(self._token)
        self.release()


def _register(df: DataFrame, releaser) -> DataFrame:
    scope = _CURRENT.get()
    if scope is not None:
        scope._frames.append((df, releaser))
    return df


def pin(df: DataFrame) -> DataFrame:
    """Persist ``df`` (MEMORY_AND_DISK, same as ``.cache()``) into the
    open scope; with none open it lives until ``clearCache()``."""
    return _register(df.persist(), DataFrame.unpersist)


def checkpoint(df: DataFrame, reliable: bool = False) -> DataFrame:
    """Eagerly materialize ``df`` and truncate its lineage, registered in
    the open scope.

    - ``reliable=False``: ``localCheckpoint`` — executor-local blocks,
      no configuration needed; a lost executor fails the job (no
      lineage left to recompute from). Release frees the blocks.
    - ``reliable=True``: ``checkpoint`` to the fault-tolerant FS set via
      ``spark.sparkContext.setCheckpointDir`` (required; ValueError
      otherwise). The files survive release.
    """
    if not reliable:
        return _register(df.localCheckpoint(eager=True), free_local_checkpoint)
    if df.sparkSession.sparkContext.getCheckpointDir() is None:
        raise ValueError(
            "checkpoint='reliable' needs spark.sparkContext."
            "setCheckpointDir(<fault-tolerant path>) first"
        )
    return _register(df.checkpoint(eager=True), _keep)
