"""JDBC staging connector (SURVEY §2.1 S7/S8).

The reference stages its master table in SQLite (`fill_missing_contacts_
large.py:44-76`: chunked INSERTs + B-tree indexes on the match keys, then
indexed point lookups). In Spark the staging pattern itself is obsolete —
shuffle/spill is the out-of-core story — but the JDBC edge remains part
of the target surface (BASELINE.json: "Spark batch DataFrame ops + JDBC
connectors"): real deployments stage to / enrich from an RDBMS.

Apache Derby (embedded, ships on Spark's own classpath) is the stand-in
endpoint here, playing the role SQLite plays in the reference. The API
surface is the standard Spark JDBC source/sink, so pointing ``url`` at
Postgres/MySQL instead changes nothing in calling code.

Scale notes:
- Reads parallelize with ``partition_column``/``num_partitions`` (one
  executor task per bound range) — the distributed analogue of the
  reference's indexed chunk loop (`fill_missing_contacts_large.py:
  239-258`).
- Filter pushdown: Catalyst pushes predicates into the remote SQL query
  (visible as PushedFilters in the scan node), the analogue of the
  reference's ``WHERE _name=? OR ...`` probes (`:133-141`).
- Writes batch rows per round trip (``batchsize``); an embedded Derby
  file DB is single-host — a real cluster stages to a networked RDBMS.
"""

from __future__ import annotations

import atexit
import hashlib
import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession

DERBY_DRIVER = "org.apache.derby.jdbc.EmbeddedDriver"


def derby_url(db_path: str) -> str:
    return f"jdbc:derby:{db_path};create=true"


#: Scratch database directories handed out by this process.
_SCRATCH_DBS: set[str] = set()


@atexit.register
def _remove_scratch_dbs() -> None:
    for path in _SCRATCH_DBS:
        shutil.rmtree(path, ignore_errors=True)


def scratch_derby_url(key: str) -> str:
    """A session-stable embedded Derby database under the temp dir, keyed
    by name AND process id (same key -> same DB across calls in one
    process). The pid in the key is load-bearing: embedded Derby holds a
    single-JVM boot lock per database directory, so two processes that
    derive the same path from the same key (e.g. a test suite and an
    oracle sweep both building ``jdbc_stage_roundtrip`` against the same
    sf_dir) collide with ``Another instance of Derby may have already
    booted``. Keying by pid gives every process its own scratch DB; the
    consumers' outputs are path-independent, so nothing observable
    changes. The directory is removed when the process exits."""
    digest = hashlib.sha256(f"{key}|{os.getpid()}".encode()).hexdigest()[:16]
    path = os.path.join(tempfile.gettempdir(), f"derby_{digest}")
    _SCRATCH_DBS.add(path)
    return derby_url(path)


def write_jdbc(
    df: DataFrame,
    url: str,
    table: str,
    mode: str = "overwrite",
    driver: str = DERBY_DRIVER,
    batchsize: int = 1000,
    num_partitions: int | None = None,
) -> None:
    """JDBC sink (S7). ``num_partitions`` caps concurrent connections —
    embedded Derby serializes writers, so a small number is right there;
    a networked RDBMS takes more."""
    out = df.coalesce(num_partitions) if num_partitions else df
    (
        out.write.format("jdbc")
        .option("url", url)
        .option("dbtable", table)
        .option("driver", driver)
        .option("batchsize", str(batchsize))
        .option("truncate", "false")
        .mode(mode)
        .save()
    )


def read_jdbc(
    spark: SparkSession,
    url: str,
    table: str,
    driver: str = DERBY_DRIVER,
    partition_column: str | None = None,
    lower_bound: int | None = None,
    upper_bound: int | None = None,
    num_partitions: int | None = None,
) -> DataFrame:
    """JDBC source (S8) with optional bound-partitioned parallel read.
    Filters applied on the result push into the remote query."""
    reader = (
        spark.read.format("jdbc")
        .option("url", url)
        .option("dbtable", table)
        .option("driver", driver)
    )
    if partition_column is not None:
        reader = (
            reader.option("partitionColumn", partition_column)
            .option("lowerBound", str(lower_bound))
            .option("upperBound", str(upper_bound))
            .option("numPartitions", str(num_partitions or 4))
        )
    return reader.load()


def table_exists(
    spark: SparkSession, url: str, table: str, driver: str = DERBY_DRIVER
) -> bool:
    """Positive table-existence probe via ``java.sql.DatabaseMetaData
    .getTables`` on a fresh connection — independent of any exception
    text (JDBC error messages often embed the failing SQL, so substring
    matching misclassifies transient errors as missing-table).

    ``getTables`` treats its schema/name arguments as LIKE patterns, so
    ``_`` and ``%`` are escaped with the driver's own
    ``getSearchStringEscape()`` — without that, ``daily_rollup`` would
    match a coexisting ``dailyXrollup`` and report a missing table as
    present. Checks the name as given, uppercased, AND lowercased:
    Derby folds unquoted identifiers to UPPER, Postgres to LOWER — a
    mixed-case name handed to a Postgres endpoint exists under its
    lowercased form, and probing only as-given/upper would return a
    false "missing" that jdbc_upsert_writer's fallback path would turn
    into an empty-base overwrite (data loss). The three probes cover
    both folding conventions plus exact-match stores.
    """
    jvm = spark._jvm
    jvm.java.lang.Class.forName(driver)
    conn = jvm.java.sql.DriverManager.getConnection(url)
    try:
        schema, _, name = table.rpartition(".")
        meta = conn.getMetaData()
        esc = meta.getSearchStringEscape()

        def _quote(ident: str | None) -> str | None:
            if ident is None:
                return None
            return ident.replace(esc, esc + esc).replace(
                "_", esc + "_"
            ).replace("%", esc + "%")

        for cand_schema, cand_name in dict.fromkeys(
            [
                (schema or None, name),
                (schema.upper() or None, name.upper()),
                (schema.lower() or None, name.lower()),
            ]
        ):
            rs = meta.getTables(None, _quote(cand_schema), _quote(cand_name), None)
            try:
                if rs.next():
                    return True
            finally:
                rs.close()
        return False
    finally:
        conn.close()


def jdbc_upsert_writer(url: str, table: str, keys: list[str],
                       driver: str = DERBY_DRIVER,
                       max_keys: int = 100_000):
    """foreachBatch function maintaining a keyed JDBC table from an
    update-mode stream: each micro-batch's rows REPLACE the table's
    rows with the same key (latest batch wins, tracked by a __v
    version column), so the table converges to the stream's final
    state per key — incremental materialized-view maintenance into an
    RDBMS.

    Idempotent per batch_id: replaying a batch re-merges identical
    rows with the same version, leaving the table unchanged — the
    foreachBatch exactly-once recipe (see
    streaming.runner.idempotent_batch_writer) applied to a keyed sink.

    Implementation note: Derby has no MERGE reachable through Spark's
    JDBC writer, so the merge is read -> upsert_latest -> overwrite,
    with the base MATERIALIZED first (a lazy self-read would race the
    overwrite). That collect is bounded by the AGGREGATE table's size
    (keys x metrics, not events); against Postgres/MySQL swap the body
    for a real `INSERT .. ON CONFLICT` via the DB driver and nothing
    else changes.

    The bound is ENFORCED, not just documented: the base read is
    LIMIT-bounded to ``max_keys + 1`` rows (default 100k), so a sink
    whose key cardinality outgrows the bound — i.e. the "aggregate
    table" is silently becoming an event table — fails fast with the ON
    CONFLICT guidance instead of degrading into a driver-side collect
    of the whole materialized view; driver memory is capped either way.
    """
    from pyspark.sql import functions as F

    from bcg_contacts_data_pipeline_spark.operators.cdc import upsert_latest

    def upsert(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        updates = batch_df.withColumn("__v", F.lit(int(batch_id)).cast("long"))
        try:
            # LIMIT max_keys+1 keeps this a SINGLE bounded scan: under
            # the bound it returns the whole table (the rows the merge
            # needs anyway); at the bound+1 mark it proves the overflow
            # without materializing an unbounded result.
            rows = (
                read_jdbc(spark, url, table, driver=driver)
                .limit(max_keys + 1)
                .collect()
            )
        except Exception as read_err:
            # ONLY first-batch "table does not exist yet" may fall back
            # to an empty base. Anything else (lock timeout, connection
            # drop...) must re-raise: treating a transient read failure
            # as an empty base would make the overwrite below WIPE the
            # accumulated rollup and silently bypass the max_keys guard.
            # Adjudicated POSITIVELY via JDBC metadata, never by sniffing
            # the exception text (messages embed the SQL, so a transient
            # error can contain the table name + "not found" and alias as
            # missing-table). If the existence probe itself fails, the
            # endpoint is unhealthy — re-raise the original error too.
            try:
                missing = not table_exists(spark, url, table, driver=driver)
            except Exception:
                raise read_err  # original error, probe failure as context
            if not missing:
                raise
            rows = []
        if len(rows) > max_keys:
            raise RuntimeError(
                f"jdbc_upsert_writer: base table {table!r} holds more than "
                f"max_keys={max_keys} rows — over the driver-collect bound. "
                "This sink materializes the keyed aggregate on the driver "
                "each micro-batch (Derby has no MERGE through Spark's JDBC "
                "writer); at this key cardinality, point the sink at "
                "Postgres/MySQL and swap the merge body for a per-batch "
                "`INSERT ... ON CONFLICT (keys) DO UPDATE` via the DB "
                "driver, or raise max_keys explicitly if the collect is "
                "genuinely acceptable."
            )
        base = spark.createDataFrame(rows, updates.schema)
        merged = upsert_latest(base, updates, keys, "__v")
        write_jdbc(merged, url, table, mode="overwrite", driver=driver)

    return upsert
