"""JDBC staging edge (S7/S8) against embedded Derby."""

import os
import subprocess
import sys

import pyspark.sql.functions as F

from bcg_contacts_data_pipeline_spark.io import jdbc as J

SF = "/root/testdata/sf0.001"


def test_roundtrip_exact(spark):
    sup = spark.read.parquet(f"{SF}/supplier.parquet")
    url = J.scratch_derby_url("test_roundtrip")
    J.write_jdbc(sup, url, "sup_rt", num_partitions=1)
    back = J.read_jdbc(spark, url, "sup_rt")
    assert sorted(map(tuple, back.collect())) == sorted(
        map(tuple, sup.collect())
    )


def test_partitioned_read_covers_all_rows(spark):
    sup = spark.read.parquet(f"{SF}/supplier.parquet")
    url = J.scratch_derby_url("test_part")
    J.write_jdbc(sup, url, "sup_part")
    hi = sup.agg(F.max("s_suppkey")).first()[0]
    back = J.read_jdbc(
        spark, url, "sup_part",
        partition_column="s_suppkey", lower_bound=0,
        upper_bound=int(hi) + 1, num_partitions=4,
    )
    assert back.rdd.getNumPartitions() == 4
    assert back.count() == sup.count()


def test_filter_pushdown(spark):
    sup = spark.read.parquet(f"{SF}/supplier.parquet")
    url = J.scratch_derby_url("test_push")
    J.write_jdbc(sup, url, "sup_push")
    filt = J.read_jdbc(spark, url, "sup_push").filter(F.col("s_nationkey") < 13)
    plan = filt._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "LessThan(s_nationkey,13)" in plan
    want = sup.filter(F.col("s_nationkey") < 13).count()
    assert filt.count() == want


def test_overwrite_mode_replaces(spark):
    sup = spark.read.parquet(f"{SF}/supplier.parquet")
    url = J.scratch_derby_url("test_ovw")
    J.write_jdbc(sup.limit(5), url, "sup_ovw")
    J.write_jdbc(sup.limit(3), url, "sup_ovw", mode="overwrite")
    assert J.read_jdbc(spark, url, "sup_ovw").count() == 3


def test_partitioned_read_issues_n_bounded_queries(spark):
    """The parallel read must be N bounded remote queries, not N copies
    of the table — audited from the JDBCRelation's own partition WHERE
    clauses (what each executor task sends to the database), plus the
    physical placement: every Spark partition holds only keys of its
    bound range. Stride semantics (Spark): partition i of [lo, hi) with
    N partitions covers [lo + i*stride, lo + (i+1)*stride), the first
    also takes < lo and NULLs, the last is unbounded above."""
    sup = spark.read.parquet("/root/testdata/sf0.001/supplier.parquet")
    url = J.scratch_derby_url("bounds_audit")
    J.write_jdbc(sup, url, "sup_bounds", num_partitions=1)
    df = J.read_jdbc(
        spark, url, "sup_bounds",
        partition_column="s_suppkey", lower_bound=0,
        upper_bound=101, num_partitions=4,
    )
    assert df.rdd.getNumPartitions() == 4

    parts = df._jdf.queryExecution().analyzed().relation().parts()
    clauses = {p.idx(): p.whereClause() for p in parts}
    assert len(clauses) == 4
    assert '"s_suppkey" < 26' in clauses[0] and "is null" in clauses[0]
    assert clauses[1] == '"s_suppkey" >= 26 AND "s_suppkey" < 51'
    assert clauses[2] == '"s_suppkey" >= 51 AND "s_suppkey" < 76'
    assert clauses[3] == '"s_suppkey" >= 76'

    # physical placement matches the audited clauses
    got = {
        (r["p"], r["lo"], r["hi"])
        for r in df.select(
            F.spark_partition_id().alias("p"), F.col("s_suppkey")
        )
        .groupBy("p")
        .agg(F.min("s_suppkey").alias("lo"), F.max("s_suppkey").alias("hi"))
        .collect()
    }
    for p, lo, hi in got:
        if p == 1:
            assert lo >= 26 and hi < 51
        elif p == 2:
            assert lo >= 51 and hi < 76
        elif p == 3:
            assert lo >= 76

    # pushdown composes with partitioning: a filter on the partitioned
    # read reaches the remote queries as PushedFilters
    plan = (
        df.filter(F.col("s_acctbal") > 0)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PushedFilters: [" in plan and "s_acctbal" in plan.split(
        "PushedFilters"
    )[1].split("]")[0]


def test_streaming_upsert_maintains_jdbc_rollup(spark, tmp_path):
    """End-to-end incremental materialized view: events stream ->
    watermarked hourly aggregation (update mode) -> foreachBatch
    upsert into a Derby table keyed on (window_start, event_type).
    The maintained table must equal the batch aggregation of the same
    data, and replaying the drain on the same checkpoint must change
    nothing (commit log + idempotent merge)."""
    import pyspark.sql.functions as F

    from bcg_contacts_data_pipeline_spark import streaming as S
    from bcg_contacts_data_pipeline_spark.io import jdbc as J
    from bcg_contacts_data_pipeline_spark.io.events import read_events

    sf = "/root/testdata/sf0.001"
    url = J.scratch_derby_url(f"stream_upsert_{tmp_path.name}")
    table = "hourly_rollup"

    st = S.events_stream(spark, sf)
    agg = S.windowed_agg(
        st,
        "ts",
        "1 hour",
        ["event_type"],
        [F.count(F.lit(1)).alias("n_events")],
        watermark="2 hours",
    ).select("window_start", "event_type", "n_events")

    ckpt = str(tmp_path / "ckpt")
    writer = J.jdbc_upsert_writer(url, table, ["window_start", "event_type"])
    S.run_foreach_batch(agg, writer, ckpt, output_mode="update")

    got = {
        (r.window_start, r.event_type): r.n_events
        for r in J.read_jdbc(spark, url, table).collect()
    }
    want = {
        (r.hour, r.event_type): r.n
        for r in read_events(spark, sf)
        .groupBy(
            F.date_trunc("hour", F.col("ts")).alias("hour"), "event_type"
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert got == want

    # replay on the same checkpoint: committed offsets -> no change
    S.run_foreach_batch(agg, writer, ckpt, output_mode="update")
    again = {
        (r.window_start, r.event_type): r.n_events
        for r in J.read_jdbc(spark, url, table).collect()
    }
    assert again == want


def test_upsert_writer_refuses_oversized_base(spark, tmp_path):
    """The upsert sink's driver-side merge collect is bounded: once the
    maintained table's key cardinality exceeds max_keys, the writer must
    fail fast with the documented ON CONFLICT guidance instead of
    silently collecting the whole materialized view on the driver."""
    import pytest
    from pyspark.sql import functions as F

    from bcg_contacts_data_pipeline_spark.io import jdbc as J

    url = J.scratch_derby_url(f"upsert_guard_{tmp_path.name}")
    table = "guarded_rollup"

    # seed a 5-key base table that already carries the writer's __v column
    base = spark.range(5).select(
        F.col("id").alias("k"),
        F.lit(1.0).alias("metric"),
        F.lit(0).cast("long").alias("__v"),
    )
    J.write_jdbc(base, url, table)

    batch = spark.range(1).select(
        F.col("id").alias("k"), F.lit(9.0).alias("metric")
    )
    writer = J.jdbc_upsert_writer(url, table, ["k"], max_keys=3)
    with pytest.raises(RuntimeError, match="ON CONFLICT"):
        writer(batch, 1)

    # under the bound the same batch merges fine (latest batch wins)
    ok_writer = J.jdbc_upsert_writer(url, table, ["k"], max_keys=100)
    ok_writer(batch, 1)
    got = {r.k: r.metric for r in J.read_jdbc(spark, url, table).collect()}
    assert got[0] == 9.0 and len(got) == 5


def test_table_exists_positive_probe(spark, tmp_path):
    """ADVICE r9 (medium): missing-table detection must be a POSITIVE
    metadata probe (DatabaseMetaData.getTables), never exception-text
    sniffing — JDBC error messages embed the failing SQL, so a transient
    error can contain the table name plus 'not found' and masquerade as
    first-batch-no-table, wiping the rollup via the overwrite fallback."""
    import uuid

    # uuid key: tmp_path NAMES repeat across pytest runs while the Derby
    # DB persists under /tmp, so a name-keyed scratch DB would still
    # hold the table a previous run created
    url = J.scratch_derby_url(f"exists_probe_{uuid.uuid4().hex}")
    table = "probe_target"
    assert not J.table_exists(spark, url, table)
    J.write_jdbc(
        spark.createDataFrame([(1, "a")], "k int, v string"), url, table
    )
    assert J.table_exists(spark, url, table)
    # case variants: Derby folds unquoted identifiers to upper
    assert J.table_exists(spark, url, "PROBE_TARGET")
    assert not J.table_exists(spark, url, "no_such_table_anywhere")


def test_upsert_reraises_transient_error_on_existing_table(
    spark, tmp_path, monkeypatch
):
    """A read failure whose message CONTAINS the table name and a
    'not found' marker (the exact shape that fooled substring matching)
    must re-raise when the table actually exists — falling back to an
    empty base here would overwrite-wipe the accumulated rollup."""
    import pytest

    import uuid

    url = J.scratch_derby_url(f"transient_{uuid.uuid4().hex}")
    table = "rollup_t"
    base = spark.createDataFrame([(1, 10, 0)], "k int, n int, __v long")
    J.write_jdbc(base.drop("__v"), url, table)

    def boom(*a, **kw):
        raise RuntimeError(
            f'container holding "{table}" unreachable: volume not found'
        )

    monkeypatch.setattr(J, "read_jdbc", boom)
    writer = J.jdbc_upsert_writer(url, table, ["k"])
    batch = spark.createDataFrame([(1, 11)], "k int, n int")
    with pytest.raises(RuntimeError, match="not found"):
        writer(batch, 0)
    # and the table survived untouched
    monkeypatch.undo()
    assert J.read_jdbc(spark, url, table).count() == 1


def test_scratch_db_removed_at_process_exit():
    """A process that wrote through a scratch URL leaves no Derby
    directory behind once it exits (fresh JVM in a subprocess)."""
    script = (
        "import os\n"
        "from bcg_contacts_data_pipeline_spark.io import jdbc as J\n"
        "from bcg_contacts_data_pipeline_spark.session import get_spark\n"
        "spark = get_spark('scratch-exit', shuffle_partitions=1)\n"
        "url = J.scratch_derby_url('exit_cleanup')\n"
        "J.write_jdbc(spark.range(3), url, 't', num_partitions=1)\n"
        "path = url[len('jdbc:derby:'):].split(';')[0]\n"
        "assert os.path.isdir(path), path\n"
        "print(path)\n"
    )
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(os.environ, SPARK_GRAFT_CPUS="1")
    proc = subprocess.run(
        [sys.executable, "-c", script],
        capture_output=True, text=True, timeout=300, env=env, cwd=repo,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    path = proc.stdout.strip().splitlines()[-1]
    assert path.startswith(os.sep) and "derby_" in path
    assert not os.path.exists(path), f"scratch DB left behind: {path}"
