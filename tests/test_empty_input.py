"""Zero-row robustness gate over the whole query registry.

An engine that crashes on an empty partition of a 100 TB table is not an
engine — empty inputs are routine at scale (a fresh ingest hour, a filter
that eliminates a whole date range, a new tenant). This gate runs every
registered query against zero-row versions of all ten tables (real
schemas, no rows) and asserts each one *executes* — the classic crashers
being ANSI divide-by-zero on empty-count denominators, ``int(None)`` on
driver-side ``max()`` collects, and ``create_map()`` with zero entries
(``map<void,void>``) in the partition-offset cumsum. Each of those
shipped at least once; this keeps them from shipping again.

Row-content is NOT asserted (most queries legitimately return 0 rows; a
few return a single all-NULL/zero summary row) — only that the plan
builds, runs, and lands in the sink.

The batch sweep doubles as the registry-wide leak guard: each query
builds and sinks inside its own ``PinScope``, and once the scope has
closed the session's persistent-RDD count must be back at (or below)
its pre-query value — every persist and checkpoint a query makes is
released when it finishes. A query whose count rose is run once more
on its own and fails the guard only if the count rises again: the
count is session-wide, so another query's late asynchronous work can
land inside a query's window (seen once on ``lang_weighted_median``,
which materializes nothing), while a query's own leak repeats. A
confirmed leak is reported with each new persistent RDD's id and the
head of its lineage, which names the operator that materialized it.
"""

from __future__ import annotations

import pytest

from bcg_contacts_data_pipeline_spark.operators.pins import PinScope
from bcg_contacts_data_pipeline_spark.plans.queries import QUERIES
from bcg_contacts_data_pipeline_spark.session import TABLES

SRC = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def empty_sf_dir(spark, tmp_path_factory):
    """All ten harness tables with their real schemas and zero rows."""
    d = tmp_path_factory.mktemp("sf_empty")
    for t in TABLES:
        schema = spark.read.parquet(f"{SRC}/{t}.parquet").schema
        spark.createDataFrame([], schema).coalesce(1).write.parquet(
            str(d / f"{t}.parquet")
        )
    return str(d)


def _ids(rdds) -> set[int]:
    # one py4j call: iterating the Java key set costs a round trip per
    # id, and a long test session holds hundreds of persistent RDDs
    return {int(i) for i in rdds.keys().mkString(",").split(",") if i}


def _scoped_leak(spark, fn, sf_dir) -> tuple[int, dict[int, str]]:
    """Persistent RDDs added by one scoped build + noop sink: the count
    delta (> 0 is a leak; ContextCleaner frees of unrelated blocks only
    lower it) and, per RDD id present only after the scope, the first
    lines of its ``toDebugString`` lineage."""
    sc = spark.sparkContext._jsc.sc()
    before = _ids(sc.getPersistentRDDs())
    with PinScope():
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
    rdds = sc.getPersistentRDDs()  # an immutable snapshot
    after = _ids(rdds)
    new = {
        i: "\n".join(rdds.apply(i).toDebugString().splitlines()[:6])
        for i in sorted(after - before)
    }
    return len(after) - len(before), new


# One sweep per family (not 154 parametrized cases): the per-case fixture
# and reporting overhead would dominate, and the streaming queries each
# restart a real availableNow stream — batch them and report all failures
# at once.
def test_batch_queries_survive_empty_input(spark, empty_sf_dir):
    failures = {}
    suspects = []
    for name, fn in QUERIES.items():
        if name.startswith("stream_"):
            continue
        try:
            if _scoped_leak(spark, fn, empty_sf_dir)[0] > 0:
                suspects.append(name)
        except Exception as e:  # noqa: BLE001
            failures[name] = f"{type(e).__name__}: {str(e).splitlines()[0][:160]}"
    assert not failures, failures
    leaked = {}
    for name in suspects:
        n, new = _scoped_leak(spark, QUERIES[name], empty_sf_dir)
        if n > 0:
            leaked[name] = f"+{n}\n" + "\n".join(
                f"  rdd {i}:\n{lineage}" for i, lineage in new.items()
            )
    assert not leaked, "persistent RDDs left after the query's scope:\n" + (
        "\n".join(f"{name} {report}" for name, report in leaked.items())
    )


def test_streaming_queries_survive_empty_input(spark, empty_sf_dir):
    failures = {}
    for name, fn in QUERIES.items():
        if not name.startswith("stream_"):
            continue
        try:
            fn(spark, empty_sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()
        except Exception as e:  # noqa: BLE001
            failures[name] = f"{type(e).__name__}: {str(e).splitlines()[0][:160]}"
    assert not failures, failures
