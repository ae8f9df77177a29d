"""The events-table ingest: ONE place that knows how `ts` is encoded.

The driver's ``events.parquet`` has shipped `ts` two different ways across
rounds:

- TIMESTAMP(NANOS), which Spark's parquet reader only accepts as a raw
  INT64 under ``spark.sql.legacy.parquet.nanosAsLong`` — the value is
  epoch nanoseconds and needs an integer ns→µs division (ns exceed 2^53,
  so float math would lose precision);
- plain ``timestamp[us]`` (isAdjustedToUTC=false), which Spark reads as
  TIMESTAMP_NTZ.

Round 3 had the conversion copy-pasted in three places, all assuming the
first encoding; when the data drifted to the second, nine queries, the
bench, and the streaming tests went red at once. This module is the fix:
every consumer (batch ``plans.registry._events``, streaming
``streaming.sources.events_stream``, test fixtures) normalizes through
:func:`normalize_event_ts`, which branches on the *read* dtype instead of
assuming the file encoding.

Both branches land on plain TIMESTAMP (LTZ): the engine pins the session
timezone to UTC (session.py), so the NTZ→LTZ cast is wall-clock-lossless
and symmetric on collection, and every downstream temporal op
(``unix_micros``, watermarks, ``window``) takes LTZ unchanged — the exact
type the round-2 hash-green runs produced.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def normalize_event_ts(df: DataFrame, ts_col: str = "ts") -> DataFrame:
    """Normalize the events ``ts`` column to TIMESTAMP (LTZ) regardless of
    how the parquet file encoded it.

    - ``bigint`` (legacy nanosAsLong read of TIMESTAMP(NANOS)): integer
      ns→µs division, then ``timestamp_micros``.
    - ``timestamp_ntz`` (native timestamp[us] read) or ``timestamp``:
      cast/pass through.

    Any other dtype is a loud error — a schema drift should fail with one
    clear message, not take a board of queries red (round-3 lesson).
    """
    dtype = dict(df.dtypes).get(ts_col)
    if dtype is None:
        raise TypeError(f"events table has no '{ts_col}' column: {df.columns}")
    if dtype == "bigint":
        return df.withColumn(
            ts_col, F.timestamp_micros(F.expr(f"`{ts_col}` div 1000"))
        )
    if dtype in ("timestamp", "timestamp_ntz"):
        return df.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    raise TypeError(
        f"events.{ts_col} arrived as unsupported dtype '{dtype}'; expected "
        "bigint (TIMESTAMP(NANOS) via nanosAsLong), timestamp, or "
        "timestamp_ntz. The testdata encoding drifted again — extend "
        "normalize_event_ts in ONE place."
    )


def _ts_is_nanos(path: str) -> bool | None:
    """True when the parquet footer declares ``ts`` as TIMESTAMP(NANOS);
    None when pyarrow is unavailable and the footer cannot be inspected.

    Footer-only pyarrow inspection (no data read) so the Spark session
    conf is touched ONLY when the legacy encoding is actually present —
    setting ``nanosAsLong`` unconditionally made every *other* parquet
    read in the session silently load TIMESTAMP(NANOS) columns as
    bigint (advisor flag, round 4). The conf cannot be restored right
    after ``spark.read`` either: Spark re-reads it from the session at
    physical-planning time, so un-setting it before the action would
    break the very read it enabled.
    """
    try:
        import pyarrow.dataset as ds
    except ImportError:
        # pyarrow is optional for pyspark. Without it we cannot inspect
        # the footer, and returning False would silently regress the
        # legacy ns-encoded file to an unreadable state (the
        # pre-inspection code handled it by always setting the conf).
        # Signal "unknown" so the caller can probe via Spark itself.
        return None
    try:
        schema = ds.dataset(path, format="parquet").schema
        t = schema.field("ts").type
        return getattr(t, "unit", None) == "ns"
    except Exception:
        # Unreadable footer / missing column: let Spark produce its own
        # (better) error; stay conservative and don't flip the conf.
        return False


def read_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch read of ``{sf_dir}/events.parquet`` with ``ts`` normalized.

    Sets ``nanosAsLong`` before the read ONLY if the footer actually
    declares TIMESTAMP(NANOS) — so a timestamp[us] file (the current
    testdata encoding) leaves the session conf untouched. When the
    legacy encoding IS present the conf stays set for the session
    lifetime by necessity (Spark consults it again at planning time);
    that session-wide effect is confined to the ns-encoded case and
    every consumer of THIS table normalizes through
    :func:`normalize_event_ts`.
    """
    path = f"{sf_dir}/events.parquet"
    set_nanos_conf_if_needed(spark, path)
    return normalize_event_ts(spark.read.parquet(path))


def set_nanos_conf_if_needed(spark: SparkSession, path: str) -> None:
    """Enable ``nanosAsLong`` exactly when ``path`` needs it — shared by
    the batch reader and the streaming source so the gate (and its
    no-pyarrow fallback) cannot diverge between them."""
    nanos = _ts_is_nanos(path)
    if nanos is None:
        # No pyarrow to read the footer: probe with Spark. A NANOS file
        # is rejected at schema resolution without the conf, so a clean
        # schema read means the conf must stay untouched. Only the
        # NANOS-rejection error flips the conf — any other probe
        # failure (missing file, permissions, corrupt footer) must NOT
        # leak session-wide legacy timestamp semantics into later
        # unrelated parquet reads; let the real read raise the real
        # error (round-5 advisor flag).
        try:
            spark.read.parquet(path).schema
            nanos = False
        except Exception as e:
            msg = str(e)
            nanos = "NANOS" in msg and (
                "Illegal Parquet type" in msg or "nanosAsLong" in msg
            )
    if nanos:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
