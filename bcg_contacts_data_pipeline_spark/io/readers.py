"""Source connectors (SURVEY.md §2.1 S1–S8).

Reference semantics re-expressed Spark-first:
- S1/S2/S3 TSV scans  -> one ``read_tsv``: the reference's ``dtype=str``
  load, every column a string named from the header, '' read as NULL
  (no low_memory/chunk concerns: Spark splits CSV input natively, which
  also replaces S4's 10k-row chunking).
- headerless ad-hoc lists (data_files/5.tsv, 6.tsv) -> ``read_headerless_tsv``
  with positional names.
- S5 per-file heterogeneous directory -> ``read_sources`` unions the
  per-file frames after the synonym registry maps each one (schemas
  differ so it can NOT be one multi-path scan); ``input_file_name()``
  keeps provenance. ``SourceRegistry`` holds the whole header-and-cell
  contract: synonym positions (``resolve``), the blank-cell rule, and
  its Python twin (``row_mapper``) that the ``contacts_tsv`` DataSource
  (io/datasource.py) reads its rows with.
- S6 latest-file-by-mtime -> driver-side glob (filesystem concern, not
  engine), same as the reference (clean_contacts.py:239-245).
- S7/S8 SQLite staging -> ``io.jdbc`` (partitioned JDBC read/write and
  the staged round trip); the staging pattern itself is obsolete (Spark
  shuffle/spill is the out-of-core story).
"""

from __future__ import annotations

import glob as globmod
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

from bcg_contacts_data_pipeline_spark.functions.normalize_sql import q


def string_schema(cols: list[str]) -> StructType:
    return StructType([StructField(c, StringType(), True) for c in cols])


def read_tsv(spark: SparkSession, path: str) -> DataFrame:
    """TSV scan (S1-S3) in the reference's ``dtype=str`` loading mode,
    but with NULLs kept real instead of '': the two null conventions
    (SURVEY §1.2) unify at ingest. Columns are named from one header
    peek (:func:`_peek_header`, driver-side, no Spark job)."""
    df = (
        spark.read.option("sep", "\t")
        .option("header", True)
        .option("mode", "PERMISSIVE")
        .schema(string_schema(_peek_header(spark, path)))
        .csv(path)
    )
    # Quoted names: a header such as 'No.' or 'E-mail' is not a valid
    # unquoted identifier.
    return df.selectExpr(
        *[
            f"CASE WHEN length(trim({q(c)})) = 0 THEN NULL ELSE {q(c)} END AS {q(c)}"
            for c in df.columns
        ]
    )


def _peek_header(spark: SparkSession, path: str) -> list[str]:
    """First line of the input, split on tabs — read on the driver
    through the Hadoop ``FileSystem`` API with the session's Hadoop conf,
    so it runs no Spark job and the same code path works on object
    stores (s3a://, abfss://) and HDFS. A glob or a directory resolves
    to its first non-empty data file in sorted order (names starting
    with ``_`` or ``.`` skipped, as Spark's file listing skips them); a
    multi-file scan already contracts that every file shares the header,
    so any file's header serves. Compressed files decompress through the
    codec their extension names, lines end at LF, CR or CRLF and a
    leading byte-order mark is dropped, as in Spark's text source. With
    no such file (an empty file, a missing path) there is no line, as
    Spark's text source reads none; a missing path then fails in
    ``read_tsv``'s scan, as before."""
    jvm = spark._jvm
    conf = spark._jsparkSession.sessionState().newHadoopConf()
    first = _first_data_file(jvm.org.apache.hadoop.fs.Path(path), conf)
    line = ""
    if first is not None:
        stream = first.getFileSystem(conf).open(first)
        try:
            codec = jvm.org.apache.hadoop.io.compress.CompressionCodecFactory(
                conf
            ).getCodec(first)
            lines = stream if codec is None else codec.createInputStream(stream)
            text = jvm.org.apache.hadoop.io.Text()
            jvm.org.apache.hadoop.util.LineReader(lines, conf).readLine(text)
            # Spark's line reader drops a UTF-8 byte-order mark at offset 0
            line = text.toString().removeprefix("\ufeff")
        finally:
            stream.close()
    return column_names(line.split("\t"))


def _first_data_file(path, conf):
    """The first non-empty, non-hidden file ``path`` (a file, directory
    or glob) resolves to, in sorted path order; None if there is none."""
    fs = path.getFileSystem(conf)
    files = []
    for status in fs.globStatus(path) or []:
        children = fs.listStatus(status.getPath()) if status.isDirectory() else [status]
        files += [
            f for f in children
            if f.isFile()
            and f.getLen() > 0
            and not f.getPath().getName().startswith(("_", "."))
        ]
    return min((f.getPath() for f in files), key=lambda p: p.toString(), default=None)


def column_names(header: list[str]) -> list[str]:
    """Header cells -> usable column names, the way the reference's
    pandas loader names them: cells are stripped, an empty cell i becomes
    ``Unnamed: i`` and a repeated name gets ``.1``, ``.2``, ... appended
    (the ``contacts_tsv`` DataSource names its headers here too). Repeats
    are found case-insensitively (pandas: case-sensitively), because
    Spark resolves names that way and rejects a schema that repeats one.
    Matters for files whose first DATA row is misread as a header
    (data_files/5.tsv: two empty cells), which must still read so the
    usable-source rule can skip them."""
    names: list[str] = []
    seen: set[str] = set()
    for i, c in enumerate(header):
        base = name = c.strip() or f"Unnamed: {i}"
        k = 0
        while name.lower() in seen:
            k += 1
            name = f"{base}.{k}"
        seen.add(name.lower())
        names.append(name)
    return names


def read_headerless_tsv(
    spark: SparkSession, path: str, colnames: list[str]
) -> DataFrame:
    """Headerless ad-hoc list with positional column names (S5 variants)."""
    return spark.read.option("sep", "\t").option("header", False).schema(
        string_schema(colnames)
    ).csv(path)


class SourceRegistry:
    """Synonym -> canonical column mapping (P4; fill_missing_contacts.py:
    188-192, merge_contacts_kindaworks.py:27-54).

    ``canonical`` maps each target column to its accepted source spellings
    (compared case-insensitively after strip). ``apply`` projects a raw
    source frame onto the canonical columns by coalescing the first
    NON-BLANK value along the synonym chain (synonym-priority order);
    targets with no matching column become NULL. ``row_mapper`` is the
    same projection over parsed Python rows. Both take their chains from
    ``resolve`` and their blank rule from Spark's ``trim``.

    The coalesce is a documented divergence from the reference, which
    keys and fills from only the FIRST phone-family column in file order
    (fill_missing_contacts.py:192,201 ``src_phones[0]``) and so drops
    the contact key of any row whose first phone cell is empty; here
    such a row falls back to its next non-blank synonym column."""

    def __init__(self, canonical: dict[str, list[str]]):
        self.canonical = canonical

    def resolve(self, columns: list[str]) -> list[list[int]]:
        """Per canonical column, the positions in ``columns`` of its
        synonyms (the target name first), in priority order. Names match
        case-insensitively after strip; a repeated name resolves to its
        first position."""
        lookup: dict[str, int] = {}
        for i, col in enumerate(columns):
            lookup.setdefault(col.strip().lower(), i)
        return [
            list(dict.fromkeys(
                lookup[k]
                for k in (s.strip().lower() for s in [target, *synonyms])
                if k in lookup
            ))
            for target, synonyms in self.canonical.items()
        ]

    def apply(self, df: DataFrame, keep_provenance: bool = False) -> DataFrame:
        out = []
        for target, hits in zip(self.canonical, self.resolve(df.columns)):
            if not hits:
                out.append(F.lit(None).cast("string").alias(target))
            else:
                cells = [F.col(f"`{df.columns[i]}`").cast("string") for i in hits]
                candidates = [F.when(F.length(F.trim(c)) > 0, c) for c in cells]
                out.append(F.coalesce(*candidates).alias(target))
        if keep_provenance:
            out.append(F.input_file_name().alias("source_file"))
        return df.select(*out)

    def row_mapper(self, header: list[str]):
        """``apply`` for parsed rows of a file whose header is ``header``:
        returns a function from a row's cells to its canonical values."""
        chains = self.resolve(header)
        return lambda row: tuple(_first_non_blank(row, c) for c in chains)


def _first_non_blank(row: list[str], positions: list[int]) -> str | None:
    """The first cell at ``positions`` that Spark's ``trim`` leaves
    non-empty. ``trim`` strips ASCII space only, so a cell holding just
    U+00A0 or U+000B is a value, as it is in ``apply``."""
    for i in positions:
        if i < len(row) and row[i].strip(" "):
            return row[i]
    return None


def read_sources(frames: list[DataFrame], registry: SourceRegistry) -> DataFrame:
    """S5 — heterogeneous multi-file source: each file's frame (as
    ``read_tsv`` returns it) mapped through the registry, then a single
    unionByName. Provenance column included."""
    mapped = [registry.apply(f, keep_provenance=True) for f in frames]
    out = mapped[0]
    for f in mapped[1:]:
        out = out.unionByName(f)
    return out


def latest_file(directory: str, pattern: str = "*.tsv") -> str | None:
    """S6 — newest file by mtime (clean_contacts.py:239-245); a driver-side
    filesystem concern, exactly as in the reference."""
    files = globmod.glob(os.path.join(directory, pattern))
    return max(files, key=os.path.getmtime) if files else None
