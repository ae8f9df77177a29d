"""IO connector tests (SURVEY §2.1)."""

from __future__ import annotations

import os
import time

import pytest
from pyspark.errors import AnalysisException

from bcg_contacts_data_pipeline_spark.io import readers as R
from bcg_contacts_data_pipeline_spark.io import writers as W


def test_tsv_roundtrip_single_file(spark, tmp_path):
    df = spark.createDataFrame(
        [(1, "Ann", "a@x.com"), (2, "Bob", None)], "id long, name string, email string"
    )
    out = str(tmp_path / "out.tsv")
    W.write_tsv_single(df, out)
    assert os.path.isfile(out)
    back = R.read_tsv(spark, out)
    rows = {r["id"]: r for r in back.collect()}  # all-string read: "1", not 1
    assert rows["1"]["email"] == "a@x.com"
    assert rows["2"]["email"] is None


def test_read_tsv_all_strings_nullifies_empty(spark, tmp_path):
    p = tmp_path / "src.tsv"
    p.write_text("A\tB\n1\t\nx\ty\n")
    df = R.read_tsv(spark, str(p))
    assert [f.dataType.simpleString() for f in df.schema.fields] == ["string", "string"]
    rows = sorted(df.collect(), key=lambda r: r["A"])
    assert rows[0]["B"] is None  # '' -> real NULL at ingest
    assert rows[1]["B"] == "y"


def test_read_tsv_dotted_and_repeated_header_names(spark, tmp_path):
    """Header cells that are not plain identifiers ('No.', 'E-mail') read
    as they are; empty and repeated cells get the pandas loader's names."""
    p = tmp_path / "dots.tsv"
    p.write_text("No.\tE-mail\t\tE-MAIL\n1\ta@x.com\tz\t\n")
    df = R.read_tsv(spark, str(p))
    assert df.columns == ["No.", "E-mail", "Unnamed: 2", "E-MAIL.1"]
    assert [tuple(r) for r in df.collect()] == [("1", "a@x.com", "z", None)]


def test_header_peek_matches_spark_text_source(spark, tmp_path):
    """The driver-side header peek names the same columns as the first
    line Spark's text source reads, and runs no Spark job: CRLF line
    ends, a glob and a directory (``_``/``.`` files skipped), a gzip
    file and a byte-order mark. An empty file has no line to peek; it
    names the one ``Unnamed: 0`` column, as Spark's empty read does."""
    import gzip

    crlf = tmp_path / "crlf.tsv"
    crlf.write_bytes(b"First Name\tE-mail\r\nAnn\ta@x.com\r\n")
    parts = tmp_path / "parts"
    parts.mkdir()
    for name in ("b.tsv", "a.tsv"):
        (parts / name).write_text("id\tname\n1\tx\n")
    (parts / "_meta").write_text("not\tthe header\n")
    (parts / ".hidden").write_text("nor\tthis\n")
    packed = tmp_path / "packed.tsv.gz"
    packed.write_bytes(gzip.compress(b"k\tv\n1\t2\n"))
    bom = tmp_path / "bom.tsv"
    bom.write_bytes("\ufeffseqno\temail\n1\tx\n".encode())
    empty = tmp_path / "empty.tsv"
    empty.write_text("")

    sc = spark.sparkContext
    for p in [crlf, parts / "*.tsv", parts, packed, bom, empty]:
        rows = spark.read.text(str(p)).limit(1).take(1)
        want = R.column_names((rows[0][0] if rows else "").split("\t"))
        group = f"header-peek-{p.name}"
        sc.setJobGroup(group, "header peek")
        try:
            got = R._peek_header(spark, str(p))
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert got == want, (p, got, want)
        assert not sc.statusTracker().getJobIdsForGroup(group), p
    assert R._peek_header(spark, str(empty)) == ["Unnamed: 0"]
    # a missing path names no header and still fails at the scan
    assert R._peek_header(spark, str(tmp_path / "missing.tsv")) == ["Unnamed: 0"]
    with pytest.raises(AnalysisException):
        R.read_tsv(spark, str(tmp_path / "missing.tsv"))


def test_headerless_positional(spark, tmp_path):
    p = tmp_path / "5.tsv"
    p.write_text("Ann Lee\tAcme\ta@x.com\n")
    df = R.read_headerless_tsv(spark, str(p), ["name", "org", "email"])
    r = df.collect()[0]
    assert r["name"] == "Ann Lee" and r["email"] == "a@x.com"


def test_source_registry_synonyms_and_union(spark, tmp_path):
    # two files with different spellings of the same logical columns
    (tmp_path / "1.tsv").write_text(
        "Email Address\tFirst Name\tLast Name\tMobile Number\n"
        "a@x.com\tAnn\tLee\t0412\n"
    )
    (tmp_path / "4.tsv").write_text(
        "First Name\tLast Name\tEmail\tMobile\n" "Bob\tRoy\tb@x.com\t0413\n"
    )
    reg = R.SourceRegistry(
        {
            "s_firstname": ["first name"],
            "s_lastname": ["last name"],
            "s_email": ["email address", "email"],
            "s_mobile": ["mobile number", "mobile", "phone number"],
            "s_fullname": ["full name"],
        }
    )
    df = R.read_sources(
        [R.read_tsv(spark, str(tmp_path / f)) for f in ("1.tsv", "4.tsv")], reg
    )
    rows = {r["s_email"]: r for r in df.collect()}
    assert rows["a@x.com"]["s_firstname"] == "Ann"
    assert rows["b@x.com"]["s_mobile"] == "0413"
    assert rows["a@x.com"]["s_fullname"] is None  # absent everywhere -> NULL
    assert rows["a@x.com"]["source_file"].endswith("1.tsv")


def test_latest_file(tmp_path):
    a = tmp_path / "a.tsv"
    b = tmp_path / "b.tsv"
    a.write_text("x\n")
    time.sleep(0.05)
    b.write_text("y\n")
    assert R.latest_file(str(tmp_path)).endswith("b.tsv")


def test_json_log_sink(spark, tmp_path):
    df = spark.createDataFrame([(1, "f", "old", "new")], "row long, field string, old_value string, new_value string")
    out = str(tmp_path / "log.json")
    W.write_json_log(df, out, single=True)
    import json

    rec = json.loads(open(out).readline())
    assert rec["field"] == "f" and rec["new_value"] == "new"


def _mailchimp_fixture(tmp_path):
    """Reference-shaped mailchimp export (FIXTURES.md §2 / data_files/1.tsv
    header family, trimmed to the columns the pipeline consumes)."""
    p = tmp_path / "1.tsv"
    p.write_text(
        "Email Address\tFirst Name\tLast Name\tPhone Number\tMobile Number\tMEMBER_RATING\n"
        "ann.lee@corp.example\tAnn\tLee\t\t0405 652 525\t4\n"
        "hassan@corp.example\tHassan Derani Lawson\t\t(07) 4742 1303\t\t2\n"
    )
    return str(p)


def _crm_fixture(tmp_path):
    """CRM export (FIXTURES.md §3 / data_files/4.tsv header)."""
    p = tmp_path / "4.tsv"
    p.write_text(
        "First Name\tLast Name\tJob Title\tPhone\tEmail\tMobile\tFull Name\tCompany Name\n"
        "Bob\tRoy\tCEO\t\tbob.roy@corp.example\t0413111222\tRichard \tAcme\n"
    )
    return str(p)


def test_canned_registry_reads_reference_shaped_files(spark, tmp_path):
    from bcg_contacts_data_pipeline_spark.io import registries as REG

    df = R.read_sources(
        [
            R.read_tsv(spark, _mailchimp_fixture(tmp_path)),
            R.read_tsv(spark, _crm_fixture(tmp_path)),
        ],
        REG.CONTACT_SOURCE_REGISTRY,
    )
    rows = {r["s_email"]: r for r in df.collect()}
    assert rows["ann.lee@corp.example"]["s_mobile"] == "0405 652 525"
    # 'First Name' holding a full name with empty last (FIXTURES.md §2)
    assert rows["hassan@corp.example"]["s_firstname"] == "Hassan Derani Lawson"
    assert rows["hassan@corp.example"]["s_lastname"] is None
    assert rows["bob.roy@corp.example"]["s_mobile"] == "0413111222"
    # 'Full Name' synonym resolved from the crm header
    assert rows["bob.roy@corp.example"]["s_fullname"] == "Richard "


def test_usable_source_reproduces_reference_skip(tmp_path):
    from bcg_contacts_data_pipeline_spark.io import registries as REG

    # mailchimp/crm headers: usable
    assert REG.usable_source(
        ["Email Address", "First Name", "Last Name", "Mobile Number"]
    )
    assert REG.usable_source(["Full Name", "Phone"])
    # data_files/5.tsv first data row misread as header -> no recognizable
    # name/contact columns -> the reference skips it
    assert not REG.usable_source(["Scott", "QRS", "scott@qldretailsupplies.com.au", "", ""])
    # name but no contact key
    assert not REG.usable_source(["First Name", "Last Name", "Job Title"])


def test_contact_sources_read_dotted_headers(spark, tmp_path):
    """A source whose header holds non-identifier names ('No.', 'Mobile
    No.') is read, judged usable and projected like any other; a file
    whose first data row was misread as a header (empty cells) is
    skipped, not a crash."""
    from bcg_contacts_data_pipeline_spark.io import registries as REG

    dotted = tmp_path / "dotted.tsv"
    dotted.write_text(
        "No.\tFirst Name\tLast Name\tEmail\tMobile No.\n"
        "1\tAnn\tLee\tann@x.com\t0405\n"
    )
    adhoc = tmp_path / "5.tsv"
    adhoc.write_text("Scott\tQRS\tscott@x.com.au\t\t\nAl\tQRS\tal@x.com.au\t\t\n")
    src, skipped = REG.read_contact_sources(spark, [str(dotted), str(adhoc)])
    assert skipped == [str(adhoc)]
    [row] = src.collect()
    assert (row["s_firstname"], row["s_lastname"], row["s_email"]) == ("Ann", "Lee", "ann@x.com")
    assert row["sid"] is not None


def test_headerless_adhoc_lists_ingest_via_positional_registry(spark, tmp_path):
    from bcg_contacts_data_pipeline_spark.io import registries as REG

    p5 = tmp_path / "5.tsv"
    p5.write_text("Scott\tQRS\tscott@qldretailsupplies.com.au\t\t\n")
    p6 = tmp_path / "6.tsv"
    p6.write_text("Sharman Stores\tPeter & Jodi Sharman\tpeter@sharman.example\n")

    df5 = REG.ADHOC_5_REGISTRY.apply(
        R.read_headerless_tsv(spark, str(p5), REG.ADHOC_5_COLUMNS)
    )
    r5 = df5.collect()[0]
    assert r5["s_fullname"] == "Scott"
    assert r5["s_email"] == "scott@qldretailsupplies.com.au"
    assert r5["s_mobile"] is None

    df6 = REG.ADHOC_6_REGISTRY.apply(
        R.read_headerless_tsv(spark, str(p6), REG.ADHOC_6_COLUMNS)
    )
    r6 = df6.collect()[0]
    assert r6["s_fullname"] == "Peter & Jodi Sharman"
    assert r6["s_email"] == "peter@sharman.example"


def test_pipeline_runs_off_reference_shaped_tsvs(spark, tmp_path):
    """TSV-edge e2e: master + enrichment sources from reference-shaped
    files through read_contact_sources + run_pipeline; a master
    row missing its lastname/mobile is filled from the 2-of-3 match."""
    from bcg_contacts_data_pipeline_spark.io import registries as REG
    from bcg_contacts_data_pipeline_spark.plans import contacts as C

    master_p = tmp_path / "MergedDatabase.tsv"
    master_p.write_text(
        "seqno\tfirstname\tlastname\temail\tmobile\tfullname\tisactive\tlast_updated\n"
        "1\tAnn\t\tann.lee@corp.example\t0405652525\tAnn Lee\tY\t2020-01-02 03:04:05\n"
        "2\tBob\tRoy\tbob.roy@corp.example\t\tBob Roy\tN\t2020-01-02 03:04:05\n"
        "3\tnan\tnan\tnot-an-email\t\t\tjunk\t\n"
    )
    master = R.read_tsv(spark, str(master_p))

    src, skipped = REG.read_contact_sources(
        spark, [_mailchimp_fixture(tmp_path), _crm_fixture(tmp_path)]
    )
    assert skipped == []

    result = C.run_pipeline(master, sources=src)
    rows = {r["email"]: r for r in result.cleaned.collect()}
    # row 2 matched bob.roy on (name, email) -> mobile filled from crm file
    assert rows["bob.roy@corp.example"]["mobile"] == "0413111222"
    # row 1 was complete except lastname ('' -> NULL at ingest) and matched
    # ann.lee on (email, phone) -> lastname filled
    assert rows["ann.lee@corp.example"]["lastname"] == "Lee"
    # contiguous SEQNO over the cleaned output
    assert sorted(r["seqno"] for r in result.cleaned.collect()) == [1, 2, 3]
    # the junk row (no name, no valid email) is skipped by validation
    errs = result.errors.collect()
    assert all(e["seqno"] is not None for e in errs)


def test_columnar_roundtrip_and_partition_pruning(spark, tmp_path):
    """parquet AND orc sinks round-trip; hive partitioning prunes: a
    filter on the partition column must reach the scan as a partition
    filter, not a data filter."""
    import pytest
    from pyspark.sql import functions as F

    from bcg_contacts_data_pipeline_spark.io.writers import write_columnar

    df = spark.createDataFrame(
        [(i, ["a", "b", "c"][i % 3], float(i)) for i in range(99)],
        "id long, grp string, v double",
    )
    for fmt in ("parquet", "orc"):
        path = str(tmp_path / f"lake_{fmt}")
        write_columnar(df, path, fmt=fmt, partition_by=["grp"])
        back = spark.read.format(fmt).load(path)
        assert back.count() == 99
        assert {r.grp for r in back.select("grp").distinct().collect()} == {"a", "b", "c"}
        pruned = back.filter(F.col("grp") == "a")
        plan = pruned._jdf.queryExecution().executedPlan().toString()
        assert "PartitionFilters" in plan and "grp" in plan.split("PartitionFilters", 1)[1].splitlines()[0]
        assert pruned.count() == 33

    with pytest.raises(ValueError, match="parquet|orc"):
        write_columnar(df, str(tmp_path / "x"), fmt="csv")


def test_sort_within_gives_skippable_row_groups(spark, tmp_path):
    """sort_within must produce parquet footers whose per-row-group
    min/max on the sort column are tight and non-overlapping — the
    physical property row-group skipping depends on. Checked against
    the real file metadata (pyarrow), not the plan: the plan can't see
    the footer. Also pins that the write adds NO shuffle (it's a
    sortWithinPartitions, not a global orderBy)."""
    import glob as _glob

    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from bcg_contacts_data_pipeline_spark.io.writers import write_columnar

    df = (
        spark.range(200_000)
        .repartition(2)
        .select(
            F.col("id"),
            (F.xxhash64("id") % 1000000).alias("k"),
        )
    )
    # tiny row groups so one file holds several (parquet writer knob is
    # a hadoop conf, not a SQL conf)
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    prev = hconf.get("parquet.block.size")
    hconf.setInt("parquet.block.size", 64 * 1024)
    try:
        path = str(tmp_path / "sorted_lake")
        write_columnar(df, path, sort_within=["k"])
    finally:
        if prev is None:
            hconf.unset("parquet.block.size")
        else:
            hconf.set("parquet.block.size", prev)

    files = _glob.glob(f"{path}/*.parquet")
    assert files
    multi = 0
    for f in files:
        md = pq.ParquetFile(f).metadata
        kix = md.schema.names.index("k")
        ranges = [
            (
                md.row_group(i).column(kix).statistics.min,
                md.row_group(i).column(kix).statistics.max,
            )
            for i in range(md.num_row_groups)
        ]
        if len(ranges) > 1:
            multi += 1
        # sorted within the file: row-group ranges are non-overlapping
        for (a_min, a_max), (b_min, b_max) in zip(ranges, ranges[1:]):
            assert a_min <= a_max <= b_min <= b_max, ranges
    assert multi, "expected at least one file with several row groups"


def test_zorder_key_properties():
    """Morton key unit math (driver-side, via a tiny local frame):
    interleave of (x=0b11, y=0b00) with 2 bits = 0b0101; argument
    validation is loud."""
    import pytest
    from pyspark.sql import functions as F

    from bcg_contacts_data_pipeline_spark.io.layout import zorder_key

    with pytest.raises(ValueError, match=">= 2 columns"):
        zorder_key(["x"])
    with pytest.raises(ValueError, match="> 63 key bits"):
        zorder_key(["x", "y", "z", "w"], bits=16)


def test_zorder_interleave_and_both_columns_skippable(spark, tmp_path):
    """(1) the key really interleaves bits; (2) a z-ordered write gives
    BOTH columns bounded row-group ranges — the multi-column skipping
    property a single-column sort can't provide. Compared against real
    parquet footers: for every row group, each zorder column's
    (max - min) spread must be far below the full domain."""
    import glob as _glob

    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from bcg_contacts_data_pipeline_spark.io.layout import (
        write_zordered,
        zorder_key,
    )

    tiny = spark.createDataFrame(
        [(3, 0), (0, 3), (3, 3), (2, 1)], "x long, y long"
    ).select("x", "y", zorder_key(["x", "y"], bits=2).alias("k"))
    got = {(r.x, r.y): r.k for r in tiny.collect()}
    # x in bit positions 0,2; y in 1,3
    assert got[(3, 0)] == 0b0101
    assert got[(0, 3)] == 0b1010
    assert got[(3, 3)] == 0b1111
    assert got[(2, 1)] == 0b0110

    # 256x256 uniform grid in one input partition, tiny row groups
    n = 256
    df = (
        spark.range(n * n)
        .coalesce(1)
        .select(
            (F.col("id") % n).alias("x"),
            (F.col("id") / n).cast("long").alias("y"),
        )
    )
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    prev = hconf.get("parquet.block.size")
    hconf.setInt("parquet.block.size", 64 * 1024)
    try:
        path = str(tmp_path / "zlake")
        write_zordered(df, path, ["x", "y"], bits=8)
    finally:
        if prev is None:
            hconf.unset("parquet.block.size")
        else:
            hconf.set("parquet.block.size", prev)

    files = _glob.glob(f"{path}/*.parquet")
    assert files
    checked = 0
    for f in files:
        md = pq.ParquetFile(f).metadata
        if md.num_row_groups < 4:
            continue
        for col in ("x", "y"):
            cix = md.schema.names.index(col)
            spreads = []
            for i in range(md.num_row_groups):
                st = md.row_group(i).column(cix).statistics
                spreads.append(st.max - st.min)
            # Z-curve tiles: MOST row groups cover a bounded tile of each
            # dimension (a group straddling a major curve boundary can
            # legitimately span the domain — Z jumps there), so the
            # property is statistical: >= 70% of groups at <= half the
            # 0..255 domain, per column. The row-major baseline fails
            # this catastrophically for x (every ~4k-row chunk cycles
            # all 256 x values -> spread 255 in 100% of groups).
            tight = sum(s <= 128 for s in spreads)
            assert tight >= 0.7 * len(spreads), (col, spreads)
            checked += 1
    assert checked, "no multi-row-group file produced"


def test_static_schemas_match_inference(spark):
    """The static-schema catalog (io/schemas.py) must declare EXACTLY
    what footer inference yields on the shipped fixtures, field for
    field including nullability — the drift guard for the no-inference
    read path, at every scale factor the tests and bench.py read. events
    is deliberately not in the catalog (its encoding drifts by design;
    io/events.py handles it), asserted too so nobody adds it back."""
    import glob
    import os

    from bcg_contacts_data_pipeline_spark.io.schemas import TABLE_DDL
    from tests.conftest import SF_SMALL

    assert "events" not in TABLE_DDL
    checked = 0
    # every shipped scale factor: sf0.001 and sf0.01 (tests) and sf0.1
    # (bench.py's default)
    for sf_dir in sorted(glob.glob(os.path.join(os.path.dirname(SF_SMALL), "sf*"))):
        for name, ddl in TABLE_DDL.items():
            path = f"{sf_dir}/{name}.parquet"
            if not os.path.exists(path):
                continue
            inferred = spark.read.parquet(path).schema
            declared = spark.read.schema(ddl).parquet(path).schema
            assert declared == inferred, (
                f"{name}@{sf_dir}: declared {declared.json()} != "
                f"inferred {inferred.json()} — the testdata schema "
                "drifted; update io/schemas.py:TABLE_DDL"
            )
            checked += 1
    assert checked, "no (table, sf) pair found to check"
