"""Custom Spark data source (Python DataSource API, Spark 4) for the
reference's heterogeneous TSV directory.

`io.readers.read_tsv` per file plus `io.readers.read_sources` express the
same ingest as driver-side plan construction (one read + registry
projection per file, unioned). This module packages it as a first-class
source —

    spark.read.format("contacts_tsv")
         .option("path", dir)
         .option("registry", json.dumps(canonical))
         .load()

— which matters operationally: the format string travels through SQL
DDL, jobs, and configs where a Python helper function cannot. The same
format also registers as a STREAMING source (``spark.readStream.format(
"contacts_tsv")``): each micro-batch emits the files that arrived since
the last committed offset — see ``ContactsTSVStreamReader``. Use
``CREATE TEMPORARY VIEW ... USING contacts_tsv OPTIONS (...)`` for the
SQL route; a persistent ``CREATE TABLE`` stores the options in the
catalog but does not forward them back to a Python reader at scan time
(probed on Spark 4.1 — Python-source catalog tables round-trip the
format name, not the options).

One contract with ``read_sources``
----------------------------------
The header-and-cell rules live in ``io.readers`` and both routes use
them: header cells are named by ``column_names`` (the ``read_tsv``
rule), synonyms resolve through ``SourceRegistry.resolve``, and a cell
is blank when Spark's ``trim`` (ASCII space only) leaves it empty. The
batch and streaming readers share one options parser, one sorted
``*.tsv`` listing and one per-file row generator (``_TSVReaderBase``).
What still differs is the CSV dialect for QUOTED cells: this source
parses with Python's csv module, which honours quotes, while the JVM
leg needs ``multiLine=true, escape='"'`` for cells carrying tabs,
newlines or quotes (see ``ContactsTSVWriter``).

Filesystem contract
-------------------
``partitions()`` globs driver-side and ``read()`` uses plain
``open()``, so the source requires a POSIX directory visible AT THE
SAME PATH on the driver and every executor (local mode, NFS, or a
FUSE-mounted store). Object-store / HDFS URIs are NOT supported — the
glob matches nothing and the source fails fast with the no-files
error. This matches the reference's deployment (a local staging
directory of exported TSVs); for a distributed filesystem, land the
files first or use the JVM csv reader. ``source_file`` is emitted in
the same ``file:`` URI form ``read_sources`` gets from
``input_file_name()``, so the two ingest routes are interchangeable
downstream.

Scale notes
-----------
- One InputPartition per file: files parse in parallel across the
  cluster, and a directory of N files gets N-way scan parallelism with
  zero driver-side plan width (read_sources builds an N-branch union in
  the driver — fine for tens of files, quadratic analyzer pain for
  thousands).
- Each partition yields Arrow RecordBatches of up to ``_BATCH_ROWS``
  rows, not row tuples — the Arrow fast path of the DataSource API.
- This source exists for *heterogeneous/quirky* formats (per-file
  synonym schemas, the reference's headerless exports). For big
  homogeneous TSVs the JVM csv reader (`read_tsv`) remains the fast
  path.

Reference: fill_missing_contacts.py:188-201, merge_contacts_kindaworks.py:27-54
(synonym registries), run.py:21-38 (directory ingest).
"""

from __future__ import annotations

import csv
import glob as globmod
import itertools
import json
import os
import uuid
from pathlib import Path

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamWriter,
    DataSourceWriter,
    InputPartition,
    SimpleDataSourceStreamReader,
    WriterCommitMessage,
)

from bcg_contacts_data_pipeline_spark.io.readers import SourceRegistry, column_names


class ContactsTSVDataSource(DataSource):
    """Format name ``contacts_tsv``. Options:

    - ``path``: directory containing ``*.tsv``
    - ``registry``: JSON dict, canonical column -> list of synonyms
      (same structure ``SourceRegistry`` takes)
    - ``headerless`` (optional): JSON dict, file basename -> list of
      positional column names for files exported without a header row
      (the reference's 5.tsv/6.tsv shape)
    """

    @classmethod
    def name(cls) -> str:
        return "contacts_tsv"

    def schema(self) -> str:
        targets = list(_parse_registry(dict(self.options)).keys())
        cols = ", ".join(f"`{t}` string" for t in targets)
        return f"{cols}, source_file string"

    def reader(self, schema) -> "ContactsTSVReader":
        return ContactsTSVReader(dict(self.options))

    def simpleStreamReader(self, schema) -> "ContactsTSVStreamReader":
        return ContactsTSVStreamReader(dict(self.options))

    def writer(self, schema, overwrite: bool) -> "ContactsTSVWriter":
        return ContactsTSVWriter(dict(self.options), schema, overwrite)

    def streamWriter(
        self, schema, overwrite: bool
    ) -> "ContactsTSVStreamWriter":
        return ContactsTSVStreamWriter(dict(self.options), schema, overwrite)


def _parse_registry(options: dict) -> dict[str, list[str]]:
    """Required-option and JSON validation with errors that name the
    option — a bare KeyError/JSONDecodeError through the DataSource
    plumbing is undebuggable from SQL."""
    if "registry" not in options:
        raise ValueError(
            "contacts_tsv requires a 'registry' option: JSON dict of "
            "canonical column -> list of synonyms"
        )
    try:
        reg = json.loads(options["registry"])
    except json.JSONDecodeError as e:
        raise ValueError(f"contacts_tsv 'registry' option is not valid JSON: {e}") from e
    if not isinstance(reg, dict) or not reg:
        raise ValueError("contacts_tsv 'registry' must be a non-empty JSON object")
    return reg


#: Rows per emitted RecordBatch: bounds task memory to ~batch size
#: instead of file size (a multi-GB TSV would otherwise be resident
#: 3-4x over — parsed rows + Python column lists + Arrow arrays).
_BATCH_ROWS = 65_536


class _TSVReaderBase:
    """Shared by the batch and streaming readers, so the two routes can
    never drift: one options parser, one ``*.tsv`` listing and one
    per-file generator of canonical rows."""

    def __init__(self, options: dict):
        if "path" not in options:
            raise ValueError("contacts_tsv requires a 'path' option (TSV directory)")
        self.directory = options["path"]
        self.registry = SourceRegistry(_parse_registry(options))
        try:
            self.headerless: dict[str, list[str]] = json.loads(
                options.get("headerless", "{}")
            )
        except json.JSONDecodeError as e:
            raise ValueError(
                f"contacts_tsv 'headerless' option is not valid JSON: {e}"
            ) from e

    def _files(self) -> list[str]:
        return sorted(globmod.glob(os.path.join(self.directory, "*.tsv")))

    def _file_rows(self, path: str):
        """Each data row of ``path`` as its canonical values plus the
        file's ``file:`` URI, percent-encoded — byte-identical to what
        input_file_name() yields in read_sources, so provenance
        joins/filters written against one route work on the other. The
        file is streamed, never held whole."""
        uri = Path(os.path.abspath(path)).as_uri()
        cols = self.headerless.get(os.path.basename(path))
        with open(path, newline="", encoding="utf-8") as fh:
            reader = csv.reader(fh, delimiter="\t")
            header = cols if cols is not None else column_names(next(reader, []))
            canonical = self.registry.row_mapper(header)
            for row in reader:
                yield (*canonical(row), uri)


class ContactsTSVReader(_TSVReaderBase, DataSourceReader):
    def partitions(self):
        paths = self._files()
        if not paths:
            raise FileNotFoundError(f"no *.tsv under {self.directory!r}")
        # Fail up front on a headerless key that matches no file: a typo
        # would otherwise make that file parse header-fully — first data
        # row silently consumed as a header, every column NULL.
        basenames = {os.path.basename(p) for p in paths}
        unmatched = sorted(set(self.headerless) - basenames)
        if unmatched:
            raise ValueError(
                f"'headerless' keys match no *.tsv in {self.directory!r}: "
                f"{unmatched} (found: {sorted(basenames)})"
            )
        return [InputPartition(p) for p in paths]

    def read(self, partition: InputPartition):
        import pyarrow as pa

        names = [*self.registry.canonical, "source_file"]
        rows = self._file_rows(partition.value)
        for chunk in iter(lambda: list(itertools.islice(rows, _BATCH_ROWS)), []):
            yield pa.RecordBatch.from_arrays(
                [pa.array(c, type=pa.string()) for c in zip(*chunk)], names=names
            )


class ContactsTSVStreamReader(_TSVReaderBase, SimpleDataSourceStreamReader):
    """Streaming flavor of ``contacts_tsv``: each micro-batch picks up
    the *.tsv files that arrived since the last committed offset — the
    drop-directory ingest the reference runs by hand (run.py re-scans
    the export directory per invocation), as a Structured Streaming
    source with exactly-once file accounting.

    Offsets are JSON dicts ``{"processed": [basename, ...]}`` — the set
    of files already emitted. ``read`` emits every row of every new
    file and advances the offset; ``readBetweenOffsets`` replays a
    committed range after restart (same parse, so replay is
    deterministic — files must be immutable once dropped, the standard
    landing-directory contract). A SimpleDataSourceStreamReader parses
    on the driver: right for control-plane-sized contact drops (the
    reference's shape); a firehose belongs on the partitioned
    DataSourceStreamReader API instead.
    """

    def initialOffset(self) -> dict:
        return {"processed": []}

    def _rows(self, paths: list[str]):
        return iter([row for p in paths for row in self._file_rows(p)])

    def read(self, start: dict):
        done = set(start.get("processed", []))
        new = [p for p in self._files() if os.path.basename(p) not in done]
        end = {
            "processed": sorted(done | {os.path.basename(p) for p in new})
        }
        return self._rows(new), end

    def readBetweenOffsets(self, start: dict, end: dict):
        want = set(end.get("processed", [])) - set(start.get("processed", []))
        paths = [p for p in self._files() if os.path.basename(p) in want]
        missing = want - {os.path.basename(p) for p in paths}
        if missing:
            raise FileNotFoundError(
                f"replay needs committed files that vanished: {sorted(missing)}"
            )
        return self._rows(paths)


def _write_rows_lazily(
    directory: str, tmp: str, fields: list[str], iterator
) -> int:
    """Stage ``iterator`` into ``directory/tmp`` as header-ful TSV,
    creating the file only when the FIRST row arrives. Empty partitions
    — and tasks whose iterator raises before producing a row (the
    common kill/failure path) — never touch the disk, which closes the
    race where a task killed after the driver's abort() sweep leaves an
    orphan temp behind. A task killed mid-file can still leak one; the
    hidden job-prefixed ``.tmp`` name keeps such leftovers invisible to
    every reader (they glob ``*.tsv``). Returns the row count."""
    fh = None
    rows = 0
    try:
        for row in iterator:
            if fh is None:
                os.makedirs(directory, exist_ok=True)
                fh = open(
                    os.path.join(directory, tmp),
                    "w",
                    newline="",
                    encoding="utf-8",
                )
                w = csv.writer(fh, delimiter="\t")
                w.writerow(fields)
            w.writerow("" if v is None else str(v) for v in row)
            rows += 1
    finally:
        if fh is not None:
            fh.close()
    return rows


class _TSVCommit(WriterCommitMessage):
    """One per task: (staged temp basename or None if the partition was
    empty, final basename, row count). Must stay picklable."""

    def __init__(self, tmp: str | None, final: str, rows: int):
        self.tmp = tmp
        self.final = final
        self.rows = rows


class _TSVWriterBase:
    """Shared mechanics of the batch and streaming TSV writers: option
    validation, job-unique hidden temp names, and the commit-time
    rename + temp sweep. The sweep removes this job's leftovers from
    retried/speculative attempts AND any *stale* temps (> 24 h old) left
    behind by earlier runs that crashed between staging and their own
    sweep — hidden ``.tmp`` names are invisible to readers either way,
    but a long-lived sink should not accumulate them unboundedly. The
    24 h TTL sits far above any plausible task duration so a live
    concurrent job's staged temp is never swept out from under its
    commit-time ``os.replace`` (concurrent writers to one directory are
    unsupported, but the failure mode should be a documented conflict,
    not a mysterious FileNotFoundError from a foreign sweep)."""

    _STALE_TEMP_S = 24 * 3600

    def __init__(self, options: dict, schema):
        if "path" not in options:
            raise ValueError(
                "contacts_tsv requires a 'path' option (target directory)"
            )
        self.directory = options["path"]
        self.fields = [f.name for f in schema.fields]
        self.job_id = uuid.uuid4().hex[:12]

    def _tmp_name(self) -> str:
        return f".contacts-tsv-{self.job_id}-{uuid.uuid4().hex[:8]}.tmp"

    def _stage(self, iterator, final: str) -> _TSVCommit:
        tmp = self._tmp_name()
        rows = _write_rows_lazily(self.directory, tmp, self.fields, iterator)
        return _TSVCommit(tmp if rows else None, final, rows)

    def _publish(self, messages) -> dict[str, str]:
        """Rename every staged temp to its final name; returns the
        staged map (tmp -> final)."""
        staged = {
            m.tmp: m.final for m in messages if m is not None and m.tmp
        }
        for tmp, final in staged.items():
            os.replace(
                os.path.join(self.directory, tmp),
                os.path.join(self.directory, final),
            )
        return staged

    def _sweep_temps(self) -> None:
        import time as _time

        now = _time.time()
        mine = os.path.join(
            self.directory, f".contacts-tsv-{self.job_id}-*.tmp"
        )
        for leftover in globmod.glob(mine):
            os.remove(leftover)
        for other in globmod.glob(
            os.path.join(self.directory, ".contacts-tsv-*.tmp")
        ):
            try:
                if now - os.path.getmtime(other) > self._STALE_TEMP_S:
                    os.remove(other)
            except OSError:
                pass  # another job swept it first

    def _write_empty_marker(self, final: str) -> None:
        """Header-only part representing the empty table — keeps an
        overwritten/truncated directory READABLE (the reader fails on
        no-*.tsv)."""
        os.makedirs(self.directory, exist_ok=True)
        path = os.path.join(self.directory, final)
        with open(path, "w", newline="", encoding="utf-8") as fh:
            csv.writer(fh, delimiter="\t").writerow(self.fields)

    #: Snapshot manifest published by every overwrite/truncate commit.
    #: Hidden (dot-prefixed), so the *.tsv reader glob never sees it.
    _SNAPSHOT_MANIFEST = ".contacts-tsv-snapshot.json"

    def _commit_overwrite(self, messages, marker_name: str) -> None:
        """Shared overwrite/truncate commit: publish the new snapshot,
        then its MANIFEST, then delete every *.tsv not part of it. A
        reader globbing the directory mid-commit may briefly see the
        union of old and new parts — strictly safer than the reverse
        order's empty window — and a crash inside the commit always
        leaves at least one complete snapshot on disk.

        The half-committed state (crash after publish, before the
        delete loop finishes: OLD and NEW parts coexist) is DETECTABLE,
        not just recoverable: the manifest (atomic rename, written the
        instant the new parts are all in place) lists exactly the new
        snapshot's part names keyed by job_id. Recovery story, in
        preference order: (1) rerun the overwrite — the commit is
        idempotent, the rerun's delete loop sweeps the leftovers; (2) a
        snapshot-consistent reader reads ONLY the parts the manifest
        names — any extra *.tsv on disk is a stale leftover of the
        previous snapshot. A directory that has since taken APPEND
        batches legitimately carries parts beyond the manifest (append
        does not rewrite it), so consumers applying recipe (2) should
        treat the manifest as the floor of the last overwrite, plus any
        parts newer than it. An empty snapshot publishes a header-only
        marker so the directory stays readable."""
        published = self._publish(messages)
        keep = set(published.values())
        if not keep:
            self._write_empty_marker(marker_name)
            keep = {marker_name}
        manifest_tmp = os.path.join(self.directory, self._tmp_name())
        with open(manifest_tmp, "w", encoding="utf-8") as fh:
            json.dump({"job_id": self.job_id, "parts": sorted(keep)}, fh)
        os.replace(
            manifest_tmp,
            os.path.join(self.directory, self._SNAPSHOT_MANIFEST),
        )
        for old in globmod.glob(os.path.join(self.directory, "*.tsv")):
            if os.path.basename(old) not in keep:
                os.remove(old)


class ContactsTSVWriter(_TSVWriterBase, DataSourceWriter):
    """Batch write path of ``contacts_tsv`` — the third leg of the API
    surface next to the batch and streaming readers:

        df.write.format("contacts_tsv").option("path", dir)
          .mode("overwrite" | "append").save()

    (an explicit mode is required: Spark rejects Python data-source
    writes in the default ErrorIfExists/Ignore modes)

    Emits one header-ful TSV per non-empty partition (``part-<id>.tsv``)
    using the same dialect the engine's single-file exporter and the
    reference's `to_csv(sep='\\t')` produce (tab delimiter, minimal
    quoting, NULL as empty field) — so a directory written here reads
    straight back through the ``contacts_tsv`` reader, losslessly even
    for cells carrying tabs/newlines/quotes (python csv quoting both
    ways). The JVM `read_tsv` leg additionally needs
    ``multiLine=true, escape='"'`` for such cells — Spark's csv default
    (no multiLine, backslash escape) splits quoted multi-line fields.

    Commit protocol (two-phase, task-failure safe): tasks stage to
    job-unique hidden temps (created lazily on the first row, so empty
    or failing-before-output tasks never touch disk); ``commit``
    renames — in overwrite mode the new parts publish FIRST and the
    *.tsv files that predate this job are deleted after (a concurrent
    reader may briefly see both snapshots, never an empty directory; a
    header-only part is written when the result is empty); ``abort``
    sweeps the job's temps, so a failed job leaves the directory
    byte-identical to before.

    Same filesystem contract as the reader: one POSIX directory visible
    at the same path on driver and executors. Values serialize with
    ``str()``; non-string columns round-trip through the all-string
    reader schema as their string forms.
    """

    def __init__(self, options: dict, schema, overwrite: bool):
        super().__init__(options, schema)
        self.overwrite = overwrite

    def write(self, iterator) -> _TSVCommit:
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        # job id in the final name (Spark part-file convention): append
        # jobs never collide with files from earlier jobs, and a task
        # retry of the same partition still maps to one final name
        return self._stage(iterator, f"part-{pid:05d}-{self.job_id}.tsv")

    def commit(self, messages) -> None:
        if self.overwrite:
            self._commit_overwrite(messages, f"part-00000-{self.job_id}.tsv")
        else:
            self._publish(messages)
        self._sweep_temps()

    def abort(self, messages) -> None:
        self._sweep_temps()


class ContactsTSVStreamWriter(_TSVWriterBase, DataSourceStreamWriter):
    """Streaming sink leg of ``contacts_tsv`` — with it the format covers
    all four quadrants (batch read, stream read, batch write, stream
    write) through one format string:

        df.writeStream.format("contacts_tsv").option("path", dir)
          .option("checkpointLocation", ckpt).start()

    Each micro-batch lands as TSV parts named by (batch id, partition
    id): ``part-<batchId>-<pid>.tsv``. EXACTLY-ONCE output composes from
    two halves: Spark's checkpoint commit log never replays a committed
    batch, and a batch replayed after a mid-batch failure re-stages and
    ``os.replace``s the SAME final names — rerunning an uncommitted
    batch is idempotent, never additive. Tasks stage to job+batch-unique
    hidden temps; ``commit`` renames, ``abort`` deletes, so readers of
    the directory never observe a partially-written part file.

    Output modes: append keeps every batch's parts; update/complete
    (Spark passes ``overwrite=True`` per micro-batch) TRUNCATES at
    commit — the new snapshot publishes first, then earlier batches'
    parts are removed, so the directory converges to exactly the latest
    snapshot (header-only marker when empty). A reader globbing DURING
    an overwrite commit may briefly see old and new parts together
    (never an empty directory); snapshot-consistent readers should take
    a directory listing once and read those files.

    Same POSIX-directory contract as the other three legs. This is the
    engine-native packaging of the foreachBatch + idempotent-writer
    recipe (streaming.runner.idempotent_batch_writer) for TSV
    destinations the reference's CRM tooling consumes.
    """

    def __init__(self, options: dict, schema, overwrite: bool):
        super().__init__(options, schema)
        self.overwrite = overwrite

    def write(self, iterator) -> _TSVCommit:
        from pyspark import TaskContext

        ctx = TaskContext.get()
        pid = ctx.partitionId()
        # batchId is not passed to write(); the streaming runner sets it
        # in the task-local property used by FileStreamSink as well.
        # Its absence must FAIL, not degrade: any fallback name would be
        # batch-constant, and commit()'s os.replace would then silently
        # clobber the previous batch's data (PySpark's foreach sink
        # raises CANNOT_GET_BATCH_ID in exactly this case).
        batch_id = ctx.getLocalProperty("streaming.sql.batchId")
        if batch_id is None:
            raise RuntimeError(
                "contacts_tsv stream writer: task property "
                "'streaming.sql.batchId' is unset — cannot name this "
                "micro-batch's output exactly-once"
            )
        return self._stage(iterator, f"part-{batch_id}-{pid:05d}.tsv")

    def commit(self, messages, batchId: int) -> None:  # noqa: N803 (API)
        if self.overwrite:
            # update/complete mode: this batch's snapshot REPLACES the
            # directory contents (idempotent on replay — same names);
            # publish-then-delete semantics in _commit_overwrite
            self._commit_overwrite(messages, f"part-{batchId}-00000.tsv")
        else:
            self._publish(messages)
        self._sweep_temps()

    def abort(self, messages, batchId: int) -> None:  # noqa: N803 (API)
        self._sweep_temps()
