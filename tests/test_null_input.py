"""NULL-tolerance gate over the whole query registry.

Scraped corpora at 100 TB carry NULLs in every non-key column — a failed
embed job leaves a row with no vector, a dead link leaves a media row
with no payload, half-parsed records leave NULL text/attributes. A
single such row must not kill a 1000-executor job. This gate copies
sf0.001 with ~10% of rows getting each NON-KEY column nulled
(deterministic xxhash64 gate, column-staggered so different rows lose
different columns) and asserts every registered query *executes*.

The crashers this sweep found (all fixed, kept from regressing here):
``np.stack`` raising on None cells in every embedding kernel (now
filtered by ``_non_null_vectors`` at operator entry — a row with no
vector can't participate in similarity, same eligibility rule as docs
with no tokens), ``len(None)`` in the media fixture synthesizers (NULL
text → no fixture row), and the tolerant image decoder treating a NULL
payload as quarantine instead of a worker death.

Row-content is NOT asserted — NULL semantics are exercised against the
DuckDB oracle by the targeted unit/property tests; this gate is purely
"dirty data cannot crash the engine".
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from bcg_contacts_data_pipeline_spark.operators.pins import PinScope
from bcg_contacts_data_pipeline_spark.plans.queries import QUERIES
from bcg_contacts_data_pipeline_spark.session import TABLES

SRC = "/root/testdata/sf0.001"

# join/primary keys stay non-null: a null KEY is a different dirtiness
# class with different correct behavior (drop vs propagate) per operator
KEYS = {
    "r_regionkey", "n_nationkey", "n_regionkey", "c_custkey",
    "s_suppkey", "s_nationkey", "c_nationkey", "p_partkey",
    "o_orderkey", "o_custkey", "l_orderkey", "l_partkey", "l_suppkey",
    "l_linenumber", "event_id", "user_id", "doc_id", "vec_id",
}


@pytest.fixture(scope="module")
def null_sf_dir(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("sf_nulls")
    for t in TABLES:
        df = spark.read.parquet(f"{SRC}/{t}.parquet")
        keys = [k for k in df.columns if k in KEYS]
        cols = []
        for f_ in df.schema.fields:
            if f_.name in KEYS:
                cols.append(F.col(f_.name))
                continue
            gate = (
                F.pmod(
                    F.xxhash64(
                        F.lit(f_.name),
                        *(
                            [F.col(k) for k in keys]
                            or [F.monotonically_increasing_id()]
                        ),
                    ),
                    F.lit(10),
                )
                == 0
            )
            cols.append(
                F.when(gate, F.lit(None).cast(f_.dataType))
                .otherwise(F.col(f_.name))
                .alias(f_.name)
            )
        df.select(*cols).coalesce(1).write.parquet(str(d / f"{t}.parquet"))
    return str(d)


def test_batch_queries_survive_null_input(spark, null_sf_dir):
    failures = {}
    for name, fn in QUERIES.items():
        if name.startswith("stream_"):
            continue
        try:
            # the scope releases what building and sinking materialized
            with PinScope():
                fn(spark, null_sf_dir).write.format("noop").mode(
                    "overwrite"
                ).save()
        except Exception as e:  # noqa: BLE001
            failures[name] = f"{type(e).__name__}: {str(e).splitlines()[0][:160]}"
    assert not failures, failures


def test_streaming_queries_survive_null_input(spark, null_sf_dir):
    failures = {}
    for name, fn in QUERIES.items():
        if not name.startswith("stream_"):
            continue
        try:
            # the scope releases what building and sinking materialized
            with PinScope():
                fn(spark, null_sf_dir).write.format("noop").mode(
                    "overwrite"
                ).save()
        except Exception as e:  # noqa: BLE001
            failures[name] = f"{type(e).__name__}: {str(e).splitlines()[0][:160]}"
    assert not failures, failures
