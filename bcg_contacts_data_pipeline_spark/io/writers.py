"""Sink connectors (SURVEY.md §2.1 S9–S11).

- ``write_tsv_single`` — the reference's single-file TSV export
  (clean_contacts.py:273 etc.). Spark writes a directory of parts; when a
  caller genuinely needs ONE file (CRM import), we coalesce(1) and move
  the part file. Coalesce-to-1 is the serial point — it exists because
  the *output contract* is a single file, not because the engine needs it;
  ``write_tsv`` (partitioned) is the scale path.
- ``write_json_log`` — change-log / validation-report sinks (S11).
- S7's staging sink is ``io.jdbc.write_jdbc``.
"""

from __future__ import annotations

import glob
import os
import shutil

from pyspark.sql import DataFrame


def write_tsv(df: DataFrame, path: str) -> None:
    """Partitioned TSV output with a header line — the 100 TB path."""
    df.write.mode("overwrite").option("sep", "\t").option("header", True).csv(path)


def write_tsv_single(df: DataFrame, path: str) -> str:
    """Single-file TSV with a header line, for edge export."""
    _write_single(df, path, "csv", sep="\t", header=True)
    return path


def write_json_log(df: DataFrame, path: str, single: bool = False) -> None:
    """JSON side-output (fill log / validation report)."""
    if single:
        _write_single(df, path, "json")
    else:
        df.write.mode("overwrite").json(path)


def _write_single(df: DataFrame, path: str, fmt: str, **options) -> None:
    """Write ``df`` as ONE ``fmt`` file at ``path``: coalesce(1), write
    to a temp dir next to ``path``, then move the one part file."""
    tmp = path + ".__tmpdir__"
    df.coalesce(1).write.mode("overwrite").options(**options).format(fmt).save(tmp)
    part = glob.glob(os.path.join(tmp, "part-*"))[0]
    os.makedirs(os.path.dirname(os.path.abspath(path)), exist_ok=True)
    shutil.move(part, path)
    shutil.rmtree(tmp)


def write_columnar(
    df: DataFrame,
    path: str,
    fmt: str = "parquet",
    partition_by: list[str] | None = None,
    sort_within: list[str] | None = None,
) -> None:
    """Columnar lake sink (parquet or orc) with optional hive-style
    partitioning — the scale path for intermediate/curated datasets.
    Partition columns become directories, so downstream readers get
    partition pruning for free on those predicates.

    ``sort_within`` clusters rows by the given columns INSIDE each
    output file (``sortWithinPartitions`` — no global sort, no extra
    shuffle): parquet/orc footers then carry tight non-overlapping
    min/max stats per row group, so selective point/range reads on
    those columns skip whole row groups instead of decoding them — the
    second data-skipping lever after directory-level pruning, and the
    one that matters for high-cardinality columns that can't be
    partition keys (asserted against real footers in tests/test_io.py).
    """
    if fmt not in ("parquet", "orc"):
        raise ValueError(f"columnar formats are parquet|orc, got {fmt!r}")
    if sort_within:
        df = df.sortWithinPartitions(*sort_within)
    w = df.write.mode("overwrite").format(fmt)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.save(path)


def write_bucketed(
    df: DataFrame,
    table: str,
    path: str,
    bucket_cols: list[str],
    n_buckets: int,
    sort_cols: list[str] | None = None,
) -> None:
    """Bucketed (hash-clustered) table sink — the co-location contract
    for repeated large-to-large joins.

    Two tables bucketed on the same keys with the same bucket count join
    WITHOUT a shuffle: each task reads bucket i of both sides (and with
    ``sort_cols`` on the join keys, without a sort either) — at 100 TB
    this converts the dominant exchange of a fact-fact join into local
    reads, paying the shuffle once at write time instead of every query.
    Registers a catalog table because bucket metadata lives in the
    catalog, not the files; plain `.parquet(path)` readers still work,
    they just don't see the bucketing.
    """
    w = (
        df.write.mode("overwrite")
        .format("parquet")
        .option("path", path)
        .bucketBy(n_buckets, *bucket_cols)
    )
    if sort_cols:
        w = w.sortBy(*sort_cols)
    w.saveAsTable(table)
