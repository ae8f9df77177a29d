"""contacts_tsv custom data source: parity with read_sources + registry,
partition-per-file parallelism, headerless support."""

from __future__ import annotations

import json
import os

import pytest

from bcg_contacts_data_pipeline_spark.io.datasource import ContactsTSVDataSource
from bcg_contacts_data_pipeline_spark.io.readers import (
    SourceRegistry,
    read_headerless_tsv,
    read_sources,
    read_tsv,
)

CANONICAL = {
    "email": ["e-mail", "mail"],
    "mobile": ["phone", "cell"],
    "name": ["full name"],
}


@pytest.fixture
def tsv_dir(tmp_path):
    (tmp_path / "a.tsv").write_text(
        "Email\tPhone\tFull Name\n"
        "a@x.io\t111\tAda\n"
        "\t222\tBob\n",
        encoding="utf-8",
    )
    (tmp_path / "b.tsv").write_text(
        "mail\tcell\textra\n"
        "c@x.io\t333\tzzz\n",
        encoding="utf-8",
    )
    # headerless export, positional schema (the reference's 5.tsv shape)
    (tmp_path / "c.tsv").write_text("d@x.io\t444\tDee\n", encoding="utf-8")
    return str(tmp_path)


@pytest.fixture
def registered(spark):
    spark.dataSource.register(ContactsTSVDataSource)
    return spark


def _load(spark, tsv_dir, **extra):
    opts = {
        "path": tsv_dir,
        "registry": json.dumps(CANONICAL),
        "headerless": json.dumps(
            {"c.tsv": ["email", "mobile", "name"]}
        ),
    }
    opts.update(extra)
    r = spark.read.format("contacts_tsv")
    for k, v in opts.items():
        r = r.option(k, v)
    return r.load()


def test_reads_all_files_with_synonyms(registered, tsv_dir):
    rows = _load(registered, tsv_dir).collect()
    got = {
        (r["email"], r["mobile"], r["name"], os.path.basename(r["source_file"]))
        for r in rows
    }
    assert got == {
        ("a@x.io", "111", "Ada", "a.tsv"),
        (None, "222", "Bob", "a.tsv"),  # blank email -> NULL
        ("c@x.io", "333", None, "b.tsv"),  # no name synonym -> NULL
        ("d@x.io", "444", "Dee", "c.tsv"),  # headerless positional
    }


def test_partition_per_file(registered, tsv_dir):
    df = _load(registered, tsv_dir)
    assert df.rdd.getNumPartitions() == 3


def test_parity_with_read_sources(registered, tsv_dir):
    """The packaged source and the plan-construction helper implement the
    same contract: identical canonical rows on every file, headerless
    ones included, INCLUDING the source_file column — both routes emit
    the percent-encoded file: URI (input_file_name form), so provenance
    joins written against one route work on the other (round-5 advisor
    flag: the raw-path/URI divergence was masked by comparing basenames).

    d.tsv pins the blank-cell rule and header naming: a cell holding only
    U+00A0 or U+000B is a value (Spark's ``trim`` strips ASCII space
    only), so it wins over a lower-priority synonym on both routes; a
    header repeated case-insensitively resolves to its first column."""
    with open(os.path.join(tsv_dir, "d.tsv"), "w", encoding="utf-8") as fh:
        fh.write(
            "Email\tmail\tphone\tcell\tFull Name\tEMAIL\n"
            "\u00a0\tnbsp@x.io\t\u000b\t555\tEve\tdup@x.io\n"
            "  \tspace@x.io\t \t666\tFay\tdup2@x.io\n"
        )
    registry = SourceRegistry(CANONICAL)
    frames = [
        read_tsv(registered, os.path.join(tsv_dir, f))
        for f in ("a.tsv", "b.tsv", "d.tsv")
    ]
    frames.append(
        read_headerless_tsv(
            registered, os.path.join(tsv_dir, "c.tsv"), ["email", "mobile", "name"]
        )
    )
    want = {
        tuple(r[c] for c in (*CANONICAL, "source_file"))
        for r in read_sources(frames, registry).collect()
    }
    got = {
        tuple(r[c] for c in (*CANONICAL, "source_file"))
        for r in _load(registered, tsv_dir).collect()
    }
    assert got == want
    assert all(t[-1].startswith("file:///") for t in got)
    d_rows = {t[:-1] for t in got if t[-1].endswith("/d.tsv")}
    assert d_rows == {
        ("\u00a0", "\u000b", "Eve"),
        ("space@x.io", "666", "Fay"),
    }


def test_empty_dir_raises(registered, tmp_path):
    with pytest.raises(Exception, match="no \\*\\.tsv"):
        _load(registered, str(tmp_path)).collect()


def test_usable_from_sql(registered, tsv_dir):
    """The point of packaging as a format: it works through SQL DDL.
    TEMPORARY VIEW is the supported DDL shape — a persistent CREATE
    TABLE stores the options in the catalog but does not forward them
    back to the Python reader at scan time (probed; limitation noted in
    the module docstring)."""
    registered.sql(
        f"""CREATE OR REPLACE TEMPORARY VIEW contacts_src
            USING contacts_tsv OPTIONS (
            path '{tsv_dir}',
            registry '{json.dumps(CANONICAL)}',
            headerless '{json.dumps({"c.tsv": ["email", "mobile", "name"]})}'
        )"""
    )
    try:
        assert registered.sql("SELECT count(*) FROM contacts_src").first()[0] == 4
        assert (
            registered.sql(
                "SELECT count(*) FROM contacts_src WHERE email IS NULL"
            ).first()[0]
            == 1
        )
    finally:
        registered.sql("DROP VIEW IF EXISTS contacts_src")


def test_unmatched_headerless_key_fails_fast(registered, tsv_dir):
    """A typo'd headerless basename must error, not silently parse the
    file header-fully (first data row eaten, all columns NULL)."""
    with pytest.raises(Exception, match="headerless.*match no"):
        _load(
            registered, tsv_dir, headerless=json.dumps({"zz.tsv": ["email"]})
        ).collect()


def test_missing_registry_clear_error(registered, tsv_dir):
    with pytest.raises(Exception, match="registry"):
        registered.read.format("contacts_tsv").option("path", tsv_dir).load()


def test_bad_registry_json_clear_error(registered, tsv_dir):
    with pytest.raises(Exception, match="not valid JSON"):
        (
            registered.read.format("contacts_tsv")
            .option("path", tsv_dir)
            .option("registry", "{nope")
            .load()
        )


def test_streaming_source_picks_up_new_files_exactly_once(
    registered, tmp_path
):
    """contacts_tsv as a STREAMING source (SimpleDataSourceStreamReader):
    drain 1 sees the initial drop; a new file lands; drain 2 on the same
    checkpoint emits ONLY the new file's rows (offset = processed-file
    set); drain 3 with nothing new appends nothing."""
    spark = registered
    drop = tmp_path / "drop"
    drop.mkdir()
    (drop / "a.tsv").write_text(
        "Email\tPhone\tFull Name\na@x.io\t111\tAda\n", encoding="utf-8"
    )

    opts = {"path": str(drop), "registry": json.dumps(CANONICAL)}
    st = spark.readStream.format("contacts_tsv").options(**opts).load()
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    from bcg_contacts_data_pipeline_spark import streaming as S

    S.run_to_files(st, out, ckpt)
    first = spark.read.parquet(out)
    assert {r.email for r in first.collect()} == {"a@x.io"}

    (drop / "b.tsv").write_text(
        "mail\tcell\nb@x.io\t222\nc@x.io\t333\n", encoding="utf-8"
    )
    S.run_to_files(st, out, ckpt)
    second = spark.read.parquet(out)
    got = sorted((r.email, r.mobile) for r in second.collect())
    assert got == [("a@x.io", "111"), ("b@x.io", "222"), ("c@x.io", "333")]
    # provenance column carries the file URI on the streaming route too
    assert all(
        r.source_file.startswith("file:") for r in second.collect()
    )
    # the streaming route emits exactly the batch reader's canonical rows
    batch = spark.read.format("contacts_tsv").options(**opts).load()
    assert sorted(map(tuple, second.select(*batch.columns).collect())) == sorted(
        map(tuple, batch.collect())
    )

    S.run_to_files(st, out, ckpt)  # no new files -> no new rows
    assert spark.read.parquet(out).count() == 3


# ---------------------------------------------------------------------------
# Batch WRITE path (df.write.format("contacts_tsv"))
# ---------------------------------------------------------------------------


def test_writer_roundtrips_through_reader(registered, tmp_path):
    """Write a DataFrame out as a TSV directory and read it straight back
    through the same format: values, NULL-as-empty-field, and the header
    dialect must all survive the round trip."""
    import pyspark.sql.functions as F

    spark = registered
    out = str(tmp_path / "export")
    df = spark.createDataFrame(
        [("ada", "ada@x.org"), ("grace", None), ("alan\tturing", "alan@x.org")],
        "firstname string, email string",
    )
    df.repartition(2).write.format("contacts_tsv").option("path", out).mode(
        "append"
    ).save()

    files = sorted(os.listdir(out))
    assert files and all(f.startswith("part-") and f.endswith(".tsv") for f in files)
    identity = json.dumps({"firstname": [], "email": []})
    back = (
        spark.read.format("contacts_tsv")
        .option("path", out)
        .option("registry", identity)
        .load()
        .select("firstname", "email")
    )
    got = {(r.firstname, r.email) for r in back.collect()}
    # blank fields read back as NULL; the embedded tab survives quoting
    assert got == {("ada", "ada@x.org"), ("grace", None), ("alan\tturing", "alan@x.org")}


def test_writer_overwrite_and_append_modes(registered, tmp_path):
    spark = registered
    out = str(tmp_path / "modes")
    one = spark.createDataFrame([("a",)], "v string").coalesce(1)
    two = spark.createDataFrame([("b",)], "v string").coalesce(1)
    identity = json.dumps({"v": []})

    one.write.format("contacts_tsv").option("path", out).mode("append").save()
    two.write.format("contacts_tsv").option("path", out).mode("append").save()
    vals = {
        r.v
        for r in spark.read.format("contacts_tsv")
        .option("path", out)
        .option("registry", identity)
        .load()
        .collect()
    }
    assert vals == {"a", "b"}

    two.write.format("contacts_tsv").option("path", out).mode("overwrite").save()
    vals = {
        r.v
        for r in spark.read.format("contacts_tsv")
        .option("path", out)
        .option("registry", identity)
        .load()
        .collect()
    }
    assert vals == {"b"}
    # no staging temps left behind
    assert not [f for f in os.listdir(out) if f.endswith(".tmp")]


def test_writer_failed_job_leaves_directory_intact(registered, tmp_path):
    """Two-phase commit: a job that fails mid-write must neither clobber
    the existing files (even in overwrite mode) nor leave temp files."""
    import pyspark.sql.functions as F
    import pytest as _pytest

    spark = registered
    out = str(tmp_path / "atomic")
    seed = spark.createDataFrame([("keep",)], "v string").coalesce(1)
    seed.write.format("contacts_tsv").option("path", out).mode("append").save()
    before = {
        f: os.path.getmtime(os.path.join(out, f)) for f in os.listdir(out)
    }

    @F.udf("string")
    def boom(v):
        raise RuntimeError("synthetic task failure")

    bad = spark.createDataFrame([("x",)], "v string").select(boom("v").alias("v"))
    with _pytest.raises(Exception):
        bad.write.format("contacts_tsv").option("path", out).mode(
            "overwrite"
        ).save()

    after = {
        f: os.path.getmtime(os.path.join(out, f)) for f in os.listdir(out)
    }
    assert after == before  # byte-identical directory: no temps, no deletes


def test_writer_requires_path_option(registered):
    import pytest as _pytest

    df = registered.createDataFrame([("x",)], "v string")
    with _pytest.raises(Exception, match="path"):
        df.write.format("contacts_tsv").mode("append").save()


def test_writer_roundtrip_property(registered, tmp_path):
    """Property-style roundtrip over adversarial cell contents: embedded
    tabs, newlines, quotes, unicode, leading/trailing spaces — whatever
    the csv dialect must quote. Write -> read back -> multiset equality
    (blank-only cells legitimately collapse to NULL on read; the
    generator below never emits those)."""
    spark = registered
    hard = [
        "plain",
        "tab\tinside",
        "newline\ninside",
        'quote"inside',
        "both\t\"and\"\nmore",
        " leading and trailing ",
        "ünïcodé ✓",
        "'single'",
        ",comma,",
        "\\backslash\\",
    ]
    rows = [(f"k{i}", v) for i, v in enumerate(hard)]
    df = spark.createDataFrame(rows, "k string, v string")
    out = str(tmp_path / "prop")
    df.repartition(3).write.format("contacts_tsv").option("path", out).mode(
        "append"
    ).save()
    identity = json.dumps({"k": [], "v": []})
    back = {
        (r.k, r.v)
        for r in spark.read.format("contacts_tsv")
        .option("path", out)
        .option("registry", identity)
        .load()
        .select("k", "v")
        .collect()
    }
    assert back == set(rows)


def test_writer_empty_overwrite_leaves_readable_empty_dataset(registered, tmp_path):
    """Overwriting with an all-empty result must represent the empty
    table (header-only part), not destroy the directory's readability."""
    spark = registered
    out = str(tmp_path / "empty_ow")
    seed = spark.createDataFrame([("x",)], "v string").coalesce(1)
    seed.write.format("contacts_tsv").option("path", out).mode("append").save()

    empty = spark.createDataFrame([], "v string")
    empty.write.format("contacts_tsv").option("path", out).mode(
        "overwrite"
    ).save()

    identity = json.dumps({"v": []})
    back = (
        spark.read.format("contacts_tsv")
        .option("path", out)
        .option("registry", identity)
        .load()
    )
    assert back.count() == 0  # readable, and empty

    # same contract when the target directory does not exist yet: the
    # empty-marker branch must create it, not crash
    fresh = str(tmp_path / "fresh_never_written")
    empty.write.format("contacts_tsv").option("path", fresh).mode(
        "overwrite"
    ).save()
    assert (
        spark.read.format("contacts_tsv")
        .option("path", fresh)
        .option("registry", identity)
        .load()
        .count()
        == 0
    )


# ---------------------------------------------------------------------------
# Streaming WRITE path (df.writeStream.format("contacts_tsv"))
# ---------------------------------------------------------------------------


def test_stream_writer_drains_exactly_once(registered, tmp_path):
    """Fourth quadrant of the format: stream out to a TSV directory under
    AvailableNow. Output must equal the batch projection, part names must
    carry (batchId, partitionId), no temps may remain, and replaying the
    drain on the same checkpoint must change nothing (commit log)."""
    import re as _re

    from bcg_contacts_data_pipeline_spark import streaming as S
    from bcg_contacts_data_pipeline_spark.io.events import read_events

    spark = registered
    sf = "/root/testdata/sf0.001"
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")

    def drain():
        st = S.events_stream(spark, sf).selectExpr(
            "CAST(event_id AS STRING) AS event_id",
            "CAST(user_id AS STRING) AS user_id",
            "event_type",
        )
        q = (
            st.writeStream.format("contacts_tsv")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(120)
        q.stop()

    drain()
    files = sorted(os.listdir(out))
    assert files and all(
        _re.fullmatch(r"part-\d+-\d{5}\.tsv", f) for f in files
    ), files

    identity = json.dumps({"event_id": [], "user_id": [], "event_type": []})
    back = (
        spark.read.format("contacts_tsv")
        .option("path", out)
        .option("registry", identity)
        .load()
    )
    got = {
        (r.event_id, r.user_id, r.event_type)
        for r in back.select("event_id", "user_id", "event_type").collect()
    }
    want = {
        (str(r.event_id), str(r.user_id), r.event_type)
        for r in read_events(spark, sf)
        .select("event_id", "user_id", "event_type")
        .collect()
    }
    assert got == want

    # replay on the same checkpoint: committed batches don't re-emit
    snapshot = {
        f: os.path.getmtime(os.path.join(out, f)) for f in os.listdir(out)
    }
    drain()
    after = {
        f: os.path.getmtime(os.path.join(out, f)) for f in os.listdir(out)
    }
    assert after == snapshot


def test_stream_read_to_stream_write_roundtrip(registered, tmp_path):
    """Both streaming legs of the format in ONE query: tsv files land in
    a source dir, stream-read picks up only the new ones per drain, and
    the stream writer emits per-(real batchId, partition) parts — a
    second drain after a new file lands must produce a part named with
    batch id 1, proving the batchId task property (not a constant)
    reaches the Python writer."""
    spark = registered
    src, out, ckpt = (
        str(tmp_path / "src"),
        str(tmp_path / "out"),
        str(tmp_path / "ckpt"),
    )
    os.makedirs(src)
    reg = json.dumps({"email": []})

    def land(name, val):
        with open(os.path.join(src, name), "w") as f:
            f.write("email\n" + val + "\n")

    def drain():
        st = (
            spark.readStream.format("contacts_tsv")
            .option("path", src)
            .option("registry", reg)
            .load()
            .select("email")
        )
        q = (
            st.writeStream.format("contacts_tsv")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(120)
        q.stop()

    land("1.tsv", "a@x.org")
    drain()
    land("2.tsv", "b@x.org")
    drain()
    assert sorted(os.listdir(out)) == ["part-0-00000.tsv", "part-1-00000.tsv"]

    back = (
        spark.read.format("contacts_tsv")
        .option("path", out)
        .option("registry", reg)
        .load()
    )
    assert {r.email for r in back.collect()} == {"a@x.org", "b@x.org"}


def test_stream_writer_complete_mode_truncates_per_batch(registered, tmp_path):
    """update/complete output modes pass overwrite=True per micro-batch:
    the directory must hold exactly the LATEST snapshot, not the union
    of every batch's snapshot."""
    import pyspark.sql.functions as F

    spark = registered
    src, out, ckpt = (
        str(tmp_path / "src"),
        str(tmp_path / "out"),
        str(tmp_path / "ckpt"),
    )
    os.makedirs(src)
    reg = json.dumps({"email": []})

    def land(name, vals):
        with open(os.path.join(src, name), "w") as f:
            f.write("email\n" + "\n".join(vals) + "\n")

    def drain():
        counts = (
            spark.readStream.format("contacts_tsv")
            .option("path", src)
            .option("registry", reg)
            .load()
            .groupBy("email")
            .agg(F.count(F.lit(1)).alias("n"))
            .selectExpr("email", "CAST(n AS STRING) AS n")
        )
        q = (
            counts.writeStream.format("contacts_tsv")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(120)
        q.stop()

    land("1.tsv", ["a@x.org"])
    drain()
    land("2.tsv", ["a@x.org", "b@x.org"])
    drain()

    identity = json.dumps({"email": [], "n": []})
    got = {
        (r.email, r.n)
        for r in spark.read.format("contacts_tsv")
        .option("path", out)
        .option("registry", identity)
        .load()
        .collect()
    }
    # latest snapshot only: a seen twice, b once — batch 0's snapshot
    # (a=1) must be gone
    assert got == {("a@x.org", "2"), ("b@x.org", "1")}
    # and only batch-1 parts remain on disk (plus the hidden snapshot
    # manifest every overwrite commit publishes — invisible to readers)
    assert all(
        f.startswith("part-1-") or f == ".contacts-tsv-snapshot.json"
        for f in os.listdir(out)
    ), sorted(os.listdir(out))


def test_overwrite_commit_publishes_before_deleting(tmp_path, monkeypatch):
    """ADVICE r9: overwrite/truncate commits must publish the new parts
    BEFORE removing the old ones — a concurrent reader globbing the
    directory mid-commit may see the union of both snapshots, never an
    empty directory, and a crash inside the commit always leaves one
    complete snapshot on disk. Pinned by spying os.remove: at every
    old-part removal the new final must already be published."""
    from types import SimpleNamespace

    from pyspark.sql.types import StringType, StructField, StructType

    from bcg_contacts_data_pipeline_spark.io import datasource as DS

    d = tmp_path / "sink"
    d.mkdir()
    (d / "part-old-1.tsv").write_text("k\ta\n")
    (d / "part-old-2.tsv").write_text("k\tb\n")

    schema = StructType([StructField("k", StringType())])
    w = DS.ContactsTSVWriter({"path": str(d)}, schema, overwrite=True)
    tmp_name = w._tmp_name()
    (d / tmp_name).write_text("k\tnew\n")
    final = f"part-00000-{w.job_id}.tsv"
    messages = [SimpleNamespace(tmp=tmp_name, final=final, rows=1)]

    real_remove = DS.os.remove
    seen_at_remove = []

    def spying_remove(path):
        seen_at_remove.append(
            (DS.os.path.basename(path), (d / final).exists())
        )
        real_remove(path)

    monkeypatch.setattr(DS.os, "remove", spying_remove)
    w.commit(messages)
    removed = {name for name, _ in seen_at_remove}
    assert {"part-old-1.tsv", "part-old-2.tsv"} <= removed
    assert all(published for _, published in seen_at_remove), seen_at_remove
    assert (d / final).read_text() == "k\tnew\n"
    assert sorted(p.name for p in d.glob("*.tsv")) == [final]


def test_stream_overwrite_commit_publishes_before_deleting(
    tmp_path, monkeypatch
):
    """Streaming twin of the ordering pin above (update/complete mode)."""
    from types import SimpleNamespace

    from pyspark.sql.types import StringType, StructField, StructType

    from bcg_contacts_data_pipeline_spark.io import datasource as DS

    d = tmp_path / "sink"
    d.mkdir()
    (d / "part-0-00000.tsv").write_text("k\tbatch0\n")

    schema = StructType([StructField("k", StringType())])
    w = DS.ContactsTSVStreamWriter({"path": str(d)}, schema, overwrite=True)
    tmp_name = w._tmp_name()
    (d / tmp_name).write_text("k\tbatch1\n")
    final = "part-1-00000.tsv"
    messages = [SimpleNamespace(tmp=tmp_name, final=final, rows=1)]

    real_remove = DS.os.remove
    seen_at_remove = []

    def spying_remove(path):
        seen_at_remove.append(
            (DS.os.path.basename(path), (d / final).exists())
        )
        real_remove(path)

    monkeypatch.setattr(DS.os, "remove", spying_remove)
    w.commit(messages, batchId=1)
    assert ("part-0-00000.tsv", True) in seen_at_remove
    assert all(published for _, published in seen_at_remove), seen_at_remove
    assert sorted(p.name for p in d.glob("*.tsv")) == [final]


def test_overwrite_commit_publishes_snapshot_manifest(tmp_path, monkeypatch):
    """ADVICE r10: the half-committed state (crash after publish,
    before the delete loop — old and new *.tsv coexisting) must be
    DETECTABLE. Every overwrite commit publishes a hidden manifest
    (atomic rename) naming exactly the new snapshot's parts keyed by
    job_id; the manifest is in place BEFORE any old part is deleted, so
    at every point of a crashed commit a reader can select exactly one
    complete snapshot (manifest parts) and identify leftovers."""
    from types import SimpleNamespace

    from pyspark.sql.types import StringType, StructField, StructType

    from bcg_contacts_data_pipeline_spark.io import datasource as DS

    d = tmp_path / "sink"
    d.mkdir()
    (d / "part-old-1.tsv").write_text("k\ta\n")

    schema = StructType([StructField("k", StringType())])
    w = DS.ContactsTSVWriter({"path": str(d)}, schema, overwrite=True)
    tmp_name = w._tmp_name()
    (d / tmp_name).write_text("k\tnew\n")
    final = f"part-00000-{w.job_id}.tsv"
    messages = [SimpleNamespace(tmp=tmp_name, final=final, rows=1)]

    manifest_path = d / DS._TSVWriterBase._SNAPSHOT_MANIFEST
    real_remove = DS.os.remove
    manifest_at_remove = []

    def spying_remove(path):
        if path.endswith(".tsv"):
            manifest_at_remove.append(manifest_path.exists())
        real_remove(path)

    monkeypatch.setattr(DS.os, "remove", spying_remove)
    w.commit(messages)
    # manifest named exactly the new snapshot, and existed before any
    # old part was deleted (the crash-window detectability guarantee)
    manifest = json.loads(manifest_path.read_text())
    assert manifest == {"job_id": w.job_id, "parts": [final]}
    assert manifest_at_remove and all(manifest_at_remove)
    # the manifest is invisible to the *.tsv reader glob
    assert sorted(p.name for p in d.glob("*.tsv")) == [final]


def test_streaming_source_replays_planned_uncommitted_batch(
    registered, tmp_path
):
    """VERDICT r10 ask #8 (crash test): a batch whose OFFSET was
    written to the WAL but whose sink FAILED before the commit log
    entry (the crash window) must be REPLAYED on restart through
    readBetweenOffsets — same rows, exactly once, no loss. Simulated
    deterministically: drain 1 commits the first file; a second file
    lands; a poisoned foreachBatch sink raises AFTER the offset is
    planned (killing the query inside batch 1); a healthy restart on
    the same checkpoint must emit exactly the second file's rows."""
    from pyspark.errors.exceptions.captured import StreamingQueryException

    spark = registered
    drop = tmp_path / "drop"
    drop.mkdir()
    (drop / "a.tsv").write_text(
        "Email\tPhone\na@x.io\t111\n", encoding="utf-8"
    )
    opts = {"path": str(drop), "registry": json.dumps(CANONICAL)}
    ckpt = str(tmp_path / "ckpt")
    st = spark.readStream.format("contacts_tsv").options(**opts).load()

    seen: list[tuple[int, tuple]] = []

    def healthy(batch_df, batch_id):
        seen.append((batch_id, tuple(sorted(r.email for r in batch_df.collect()))))

    def poisoned(batch_df, batch_id):
        batch_df.collect()  # the source HAS produced the rows
        raise RuntimeError("sink crash after offset planning")

    q = (
        st.writeStream.foreachBatch(healthy)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)
    assert seen and seen[-1][1] == ("a@x.io",)

    (drop / "b.tsv").write_text(
        "mail\nb@x.io\nc@x.io\n", encoding="utf-8"
    )
    q = (
        st.writeStream.foreachBatch(poisoned)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination(120)
        raise AssertionError("poisoned sink should have failed the query")
    except StreamingQueryException:
        pass

    seen.clear()
    q = (
        st.writeStream.foreachBatch(healthy)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)
    # the crashed batch replayed exactly once, with exactly b.tsv's rows
    replayed = [emails for _, emails in seen if emails]
    assert replayed == [("b@x.io", "c@x.io")], seen


def test_stream_reader_replay_names_vanished_files(tmp_path):
    """The replay contract's failure mode is LOUD: readBetweenOffsets
    over a committed range whose files were deleted out from under the
    checkpoint raises naming the missing files — never a silent
    empty-replay (which would ack data loss)."""
    import pytest as _pytest

    from bcg_contacts_data_pipeline_spark.io import datasource as DS

    d = tmp_path / "drop"
    d.mkdir()
    (d / "kept.tsv").write_text("Email\nk@x.io\n", encoding="utf-8")
    r = DS.ContactsTSVStreamReader(
        {"path": str(d), "registry": json.dumps(CANONICAL)}
    )
    with _pytest.raises(FileNotFoundError, match="gone.tsv"):
        r.readBetweenOffsets(
            {"processed": []}, {"processed": ["gone.tsv", "kept.tsv"]}
        )
