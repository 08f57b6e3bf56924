import datetime as dt
import os

import pytest
from pyspark.sql import functions as F

from etl_database_spark.ingest import (
    ImportConfig,
    ImportJob,
    TargetTable,
    normalize_columns,
    normalize_name,
    profile_widths,
    truncate_to_widths,
)
from etl_database_spark.metadata import MetadataSpec
from etl_database_spark.registry import DatasetRegistry


def _config(tmp_path, **kw):
    src = tmp_path / "watch"
    arch = tmp_path / "archive"
    src.mkdir(exist_ok=True)
    defaults = dict(
        config_name="TestImport",
        source_directory=str(src),
        archive_directory=str(arch),
        file_pattern=r"\d{8}T\d{6}_MeetMax_\d+\.csv",
        target_table="tmeetmaxevent",
        datasettype="MeetMaxEvents",
        metadata=MetadataSpec(label_location="2", date_location="0"),
    )
    defaults.update(kw)
    return ImportConfig(**defaults)


def test_normalize_name():
    # lowercase, space/hyphen → underscore (generic_import.py:327,392)
    assert normalize_name("Company Name") == "company_name"
    assert normalize_name("Ticker-Symbol") == "ticker_symbol"
    assert normalize_name("  Description ") == "description"


def test_profile_and_truncate(spark):
    df = spark.createDataFrame([("ab", "x" * 100), ("abcd", "y")], "a string, b string")
    w = profile_widths(df)
    assert w["a"] == 6  # 4 * 1.5
    assert w["b"] == 150
    t = truncate_to_widths(df, {"b": 10}).collect()
    assert max(len(r.b) for r in t) == 10


def test_profile_width_cap(spark):
    df = spark.createDataFrame([("z" * 5000,)], "a string")
    assert profile_widths(df)["a"] == 4000  # cap (generic_import.py:191)


def test_import_end_to_end(spark, tmp_path):
    cfg = _config(tmp_path)
    (tmp_path / "watch" / "20250301T120000_MeetMax_94583.csv").write_text(
        "Company Name,Ticker\nAcme Corp,ACME\nBeta LLC,BETA\n"
    )
    (tmp_path / "watch" / "ignored.txt").write_text("not matched")
    reg = DatasetRegistry(spark, str(tmp_path / "registry"))
    job = ImportJob(spark, cfg, reg, str(tmp_path / "data"))
    results = job.run()
    assert len(results) == 1
    res = results[0]
    assert res.rows == 2 and res.status == "Active"
    # archived out of the watch dir (generic_import.py:780-796)
    assert not os.path.exists(res.filename)
    assert os.path.exists(tmp_path / "archive" / "20250301T120000_MeetMax_94583.csv")
    # loaded with normalized columns + lineage
    out = job.table.read()
    assert set(out.columns) >= {"company_name", "ticker", "datasetid", "datasetdate"}
    rows = out.collect()
    assert {r.company_name for r in rows} == {"Acme Corp", "Beta LLC"}
    assert all(r.datasetid == res.datasetid for r in rows)
    # registry row active with filename-derived label/date
    ds = reg.datasets().where(F.col("datasetid") == res.datasetid).first()
    assert ds.label == "94583" and ds.datasetdate == dt.date(2025, 3, 1) and ds.isactive


def test_width_persistence_never_ratchets_down(spark, tmp_path):
    """Widths are persisted with the table and only widen: an early
    narrow delivery must not cause later, wider values to be silently
    truncated (the re-derive-from-data-each-run ratchet), and imports
    after the first must not rescan the whole target to profile it."""
    import json

    cfg = _config(tmp_path, truncate_to_width=True)
    reg = DatasetRegistry(spark, str(tmp_path / "registry"))
    job = ImportJob(spark, cfg, reg, str(tmp_path / "data"))

    # delivery 1: narrow values → narrow persisted widths
    (tmp_path / "watch" / "20250301T120000_MeetMax_1.csv").write_text(
        "Name,Notes\na,xy\n"
    )
    (res1,) = job.run()
    assert res1.status == "Active"
    widths_path = tmp_path / "data" / "tmeetmaxevent._widths.json"
    assert widths_path.exists()
    w1 = json.loads(widths_path.read_text())

    # delivery 2: much wider value in the same column survives intact
    wide = "z" * 500
    (tmp_path / "watch" / "20250302T120000_MeetMax_2.csv").write_text(
        f"Name,Notes\nb,{wide}\n"
    )
    (res2,) = job.run()
    assert res2.status == "Active"
    got = {r.name: r.notes for r in job.table.read().collect()}
    assert got["b"] == wide, "later wider delivery was truncated by early narrow widths"
    w2 = json.loads(widths_path.read_text())
    assert all(w2[c] >= w1.get(c, 0) for c in w2), "widths ratcheted down"
    assert w2["notes"] >= 500

    # the hard cap still applies to pathological values
    huge = "q" * 5000
    (tmp_path / "watch" / "20250303T120000_MeetMax_3.csv").write_text(
        f"Name,Notes\nc,{huge}\n"
    )
    (res3,) = job.run()
    assert res3.status == "Active"
    got = {r.name: r.notes for r in job.table.read().collect()}
    assert len(got["c"]) == 4000  # WIDTH_CAP


def test_failure_outside_append_marks_failed(spark, tmp_path, monkeypatch):
    """A failure raised after registration but OUTSIDE the append (in
    width profiling here) must set the dataset row to Failed — a row
    stuck in 'New' with the file un-archived would be re-registered as
    a fresh 'New' row by every subsequent sweep."""
    from etl_database_spark.registry import STATUS_ID

    cfg = _config(tmp_path, truncate_to_width=True)
    reg = DatasetRegistry(spark, str(tmp_path / "registry"))
    job = ImportJob(spark, cfg, reg, str(tmp_path / "data"))
    (tmp_path / "watch" / "20250301T120000_MeetMax_1.csv").write_text("A,B\n1,2\n")

    def boom(self, df):
        raise RuntimeError("profiling exploded")

    monkeypatch.setattr(ImportJob, "_target_widths", boom)
    (res,) = job.run()
    assert res.status == "Failed"
    statuses = [r.datastatusid for r in reg.datasets().collect()]
    assert statuses == [STATUS_ID["Failed"]]
    # file intentionally left in place for operator inspection/retry
    assert os.path.exists(tmp_path / "watch" / "20250301T120000_MeetMax_1.csv")


def test_schema_evolution_strategy1(spark, tmp_path):
    """Ragged snapshot headers (FIXTURES.md F1): later file brings a new
    column; earlier rows read as null for it (union-by-name semantics)."""
    cfg = _config(tmp_path)
    reg = DatasetRegistry(spark, str(tmp_path / "registry"))
    job = ImportJob(spark, cfg, reg, str(tmp_path / "data"))
    (tmp_path / "watch" / "20250301T120000_MeetMax_1.csv").write_text(
        "Company Name,Ticker\nAcme,ACME\n"
    )
    job.run()
    (tmp_path / "watch" / "20250302T120000_MeetMax_1.csv").write_text(
        "Company/Organization,Company Ticker\nAcme2,AC2\n"
    )
    results = job.run()
    assert set(results[0].new_columns) == {"company/organization", "company_ticker"}
    out = job.table.read()
    assert {"company_name", "ticker", "company/organization", "company_ticker"} <= set(out.columns)
    assert out.count() == 2
    # COALESCE chain works across ragged snapshots (usefulqueries.sql:3-11)
    names = [
        r.n
        for r in out.select(
            F.coalesce("company_name", "company/organization").alias("n")
        ).collect()
    ]
    assert sorted(names) == ["Acme", "Acme2"]


def test_strategy2_ignores_new_columns(spark, tmp_path):
    cfg = _config(tmp_path, import_strategy=2)
    reg = DatasetRegistry(spark, str(tmp_path / "registry"))
    job = ImportJob(spark, cfg, reg, str(tmp_path / "data"))
    (tmp_path / "watch" / "20250301T120000_MeetMax_1.csv").write_text("A,B\n1,2\n")
    job.run()
    (tmp_path / "watch" / "20250302T120000_MeetMax_1.csv").write_text("A,B,C\n3,4,5\n")
    job.run()
    assert "c" not in job.table.read().columns


def test_strategy3_fails_on_missing_columns(spark, tmp_path):
    cfg = _config(tmp_path, import_strategy=3)
    reg = DatasetRegistry(spark, str(tmp_path / "registry"))
    job = ImportJob(spark, cfg, reg, str(tmp_path / "data"))
    (tmp_path / "watch" / "20250301T120000_MeetMax_1.csv").write_text("A,B\n1,2\n")
    job.run()
    (tmp_path / "watch" / "20250302T120000_MeetMax_1.csv").write_text("A\n3\n")
    # run_file surfaces the violation directly...
    with pytest.raises(ValueError, match="strategy 3"):
        job.run_file(str(tmp_path / "watch" / "20250302T120000_MeetMax_1.csv"))
    failed = reg.datasets().orderBy(F.desc("datasetid")).first()
    assert failed.datastatusid == 5  # Failed
    # ...while the directory sweep isolates it: the bad file records a
    # Failed result and later files still load.
    (tmp_path / "watch" / "20250303T120000_MeetMax_1.csv").write_text("A,B\n4,5\n")
    results = {r.filename.split("/")[-1]: r.status for r in job.run()}
    assert results["20250302T120000_MeetMax_1.csv"] == "Failed"
    assert results["20250303T120000_MeetMax_1.csv"] == "Active"


def test_compaction_aware_ingest(spark, tmp_path):
    """Many small files landing in one datasetdate partition trigger
    the post-run compaction hook; the partition ends at or under the
    gate (small-file remedy for per-file append ingest)."""
    cfg = _config(tmp_path, compact_max_files=4)
    reg = DatasetRegistry(spark, str(tmp_path / "registry"))
    job = ImportJob(spark, cfg, reg, str(tmp_path / "data"))
    for i in range(7):  # same date → same partition, one file per append
        (tmp_path / "watch" / f"20250301T120000_MeetMax_{i}.csv").write_text(
            f"A,B\n{i},{i}\n"
        )
    results = job.run()
    assert len(results) == 7
    counts = job.table.files_per_partition()
    assert counts and max(counts.values()) <= 4
    assert job.table.read().count() == 7  # no rows lost in the rewrite


def test_invalid_event_id_gate(spark, tmp_path):
    """'Invalid Event ID' content → dataset Empty, file archived, no
    load (generic_import.py:353-377)."""
    cfg = _config(tmp_path)
    reg = DatasetRegistry(spark, str(tmp_path / "registry"))
    job = ImportJob(spark, cfg, reg, str(tmp_path / "data"))
    (tmp_path / "watch" / "20250301T120000_MeetMax_2.csv").write_text(
        "Message\nINVALID EVENT ID provided\n"
    )
    results = job.run()
    assert results[0].status == "Empty" and results[0].rows == 0
    assert not job.table.exists()
    assert os.path.exists(tmp_path / "archive" / "20250301T120000_MeetMax_2.csv")


def test_empty_file_gate(spark, tmp_path):
    cfg = _config(tmp_path)
    reg = DatasetRegistry(spark, str(tmp_path / "registry"))
    job = ImportJob(spark, cfg, reg, str(tmp_path / "data"))
    (tmp_path / "watch" / "20250301T120000_MeetMax_3.csv").write_text("A,B\n")
    results = job.run()
    assert results[0].status == "Empty"
    assert not job.table.exists()


def test_reimport_supersedes_snapshot(spark, tmp_path):
    """Late re-import of the same (label, date): versioning absorbs it —
    the single-active invariant keeps exactly one active datasetid and
    active-filtered queries see only the newest rows (SURVEY.md W2)."""
    cfg = _config(tmp_path)
    reg = DatasetRegistry(spark, str(tmp_path / "registry"))
    job = ImportJob(spark, cfg, reg, str(tmp_path / "data"))
    (tmp_path / "watch" / "20250301T120000_MeetMax_9.csv").write_text(
        "Company Name\nOldCo\n"
    )
    r1 = job.run()[0]
    (tmp_path / "watch" / "20250301T130000_MeetMax_9.csv").write_text(
        "Company Name\nNewCo\n"
    )
    r2 = job.run()[0]
    active = reg.active().where(F.col("label") == "9").collect()
    assert [r.datasetid for r in active] == [r2.datasetid]
    data = job.table.read().join(
        reg.active().select("datasetid"), "datasetid", "left_semi"
    )
    assert [r.company_name for r in data.collect()] == ["NewCo"]
    # superseded rows still present for lineage/audit
    assert job.table.read().count() == 2
    assert r1.datasetid != r2.datasetid


def test_excel_gate_without_libs(spark, tmp_path):
    """No Excel engine in this environment: the conversion raises a
    clear ImportError instead of failing obscurely (sources/excel.py)."""
    import pytest as _pytest

    from etl_database_spark.sources.excel import excel_to_csv

    fake = tmp_path / "file.xlsx"
    fake.write_bytes(b"not a real workbook")
    with _pytest.raises(ImportError, match="openpyxl/xlrd unavailable|cannot read Excel"):
        excel_to_csv(str(fake))


def test_load_directory_bulk(spark, tmp_path):
    """Bulk path: many files in ONE spark.read with input_file_name
    metadata — one dataset per (label, date), lineage stamped per row."""
    from etl_database_spark.ingest import load_directory

    cfg = _config(tmp_path, target_table="tbulk")
    for fname, body in [
        ("20250301T120000_MeetMax_11.csv", "Company Name,Ticker\nA1,T1\nA2,T2\n"),
        ("20250302T120000_MeetMax_11.csv", "Company Name,Ticker\nA3,T3\n"),
        ("20250302T120000_MeetMax_22.csv", "Company Name,Ticker\nB1,T4\n"),
    ]:
        (tmp_path / "watch" / fname).write_text(body)
    (tmp_path / "watch" / "unmatched.csv").write_text("X\n1\n")

    reg = DatasetRegistry(spark, str(tmp_path / "registry"))
    total = load_directory(spark, cfg, reg, str(tmp_path / "data"))
    assert total == 4  # unmatched.csv excluded by the pattern

    out = spark.read.option("mergeSchema", "true").parquet(str(tmp_path / "data" / "tbulk"))
    assert out.count() == 4
    ds = {(d.label, str(d.datasetdate)): d.datasetid for d in reg.datasets().collect()}
    assert set(ds) == {("11", "2025-03-01"), ("11", "2025-03-02"), ("22", "2025-03-02")}
    # every row carries the datasetid of its (label, date) snapshot
    joined = out.join(reg.datasets().select("datasetid", "label"), "datasetid")
    for r in joined.collect():
        assert (r.label, str(r.datasetdate)) in ds
        assert ds[(r.label, str(r.datasetdate))] == r.datasetid


def test_load_directory_snapshot_key_bound(spark, tmp_path, monkeypatch):
    """A metadata spec that explodes into per-row snapshot keys must
    fail loudly at the bounded collect, not pull a data-sized list
    onto the driver."""
    import etl_database_spark.ingest as ing
    from etl_database_spark.ingest import load_directory

    cfg = _config(tmp_path, target_table="tguard")
    (tmp_path / "watch" / "20250301T120000_MeetMax_11.csv").write_text(
        "Company Name,Ticker\n" + "\n".join(f"C{i},T{i}" for i in range(5)) + "\n"
    )
    reg = DatasetRegistry(spark, str(tmp_path / "registry"))
    monkeypatch.setattr(ing, "MAX_SNAPSHOT_KEYS", 0)
    with pytest.raises(ValueError, match="distinct .* snapshot keys"):
        load_directory(spark, cfg, reg, str(tmp_path / "data"))


HEADER_CASES = {
    "bom": (b"\xef\xbb\xbfA,B\n1,2\n", ","),
    "empty_name": (b"A,,C,\n1,2,3,4\n", ","),
    "quoted_empty_name": (b'A,"",C\n1,2,3\n', ","),
    "case_dups": (b"a,A,b,a\n1,2,3,4\n", ","),
    "quoted_sep": (b'"x,y",z\n1,2\n', ","),
    "quotes": (b'"a\\"b",c" d,"e"" f",g,"h" ,"unterminated\n1,2,3,4,5,6\n', ","),
    "backslashes": (b'"a\\\\b","c\\\\",d,"e\\\\\\"f",g\\\\h,"i\\\\\n1,2\n', ","),
    "spaces": (b" Name , Other\n1,2\n", ","),
    "crlf": (b"\r\n  \r\nA,B\r\n1,2\r\n", ","),
    "tab": (b"A\tB\n1\t2\n", "\t"),
    "tab_escape": (b"A\tB\n1\t2\n", "\\t"),
    "multi_char_sep": (b'A||"B||C"||D|\n1||2||3\n', "||"),
    "header_only": (b"Event.ID,Na`me\n", ","),
    "zero_byte": (b"", ","),
}


@pytest.mark.parametrize("case", sorted(HEADER_CASES))
def test_csv_header_matches_spark(spark, tmp_path, case):
    """The driver-side header reproduces the names Spark's own header
    inference gives, for every shape of header Spark handles."""
    from etl_database_spark.ingest import csv_header

    body, sep = HEADER_CASES[case]
    p = tmp_path / f"{case}.csv"
    p.write_bytes(body)
    want = spark.read.option("header", True).option("sep", sep).csv(str(p)).columns
    got = csv_header(str(p), sep)
    assert (got or []) == want
    assert (got is None) == (body == b"")


def test_dotted_and_backtick_headers_load(spark, tmp_path):
    """Header names that Spark would parse as a nested-field path (a
    dot) or a quoted identifier (a backtick) load like any other."""
    cfg = _config(tmp_path, truncate_to_width=True)
    reg = DatasetRegistry(spark, str(tmp_path / "registry"))
    job = ImportJob(spark, cfg, reg, str(tmp_path / "data"))
    (tmp_path / "watch" / "20250301T120000_MeetMax_1.csv").write_text("Event.ID,Name\n1,a\n")
    (tmp_path / "watch" / "20250302T120000_MeetMax_1.csv").write_text("Ev`ent,Name\n2,b\n")
    results = job.run()
    assert [r.status for r in results] == ["Active", "Active"]
    rows = job.table.read().select("`event.id`", "`ev``ent`", "name").orderBy("name").collect()
    assert [tuple(r) for r in rows] == [("1", None, "a"), (None, "2", "b")]


def test_strategy3_invalid_file_lands_empty(spark, tmp_path):
    """The Empty gates come before the strategy-3 check, as in the
    reference: an 'Invalid Event ID' file that also lacks the target's
    columns is Empty, not Failed, and leaves no audit record."""
    from etl_database_spark.audit import VALIDATION_FAILED, DdlAuditLog

    audit = DdlAuditLog(spark, str(tmp_path / "audit"))
    cfg = _config(tmp_path, import_strategy=3)
    reg = DatasetRegistry(spark, str(tmp_path / "registry"))
    job = ImportJob(spark, cfg, reg, str(tmp_path / "data"), audit=audit)
    (tmp_path / "watch" / "20250301T120000_MeetMax_1.csv").write_text("A,B\n1,2\n")
    (first,) = job.run()
    assert first.status == "Active"
    (tmp_path / "watch" / "20250302T120000_MeetMax_2.csv").write_text(
        "Message\nInvalid Event ID\n"
    )
    (res,) = job.run()
    assert res.status == "Empty"
    assert os.path.exists(tmp_path / "archive" / "20250302T120000_MeetMax_2.csv")
    assert VALIDATION_FAILED not in {r.eventtype for r in audit.events().collect()}
    assert job.table.read().count() == 1


def test_empty_result_leaves_no_staging(spark, tmp_path):
    """A gated-out append removes its staging directory, for a new
    table and for an existing one."""
    cfg = _config(tmp_path)
    reg = DatasetRegistry(spark, str(tmp_path / "registry"))
    job = ImportJob(spark, cfg, reg, str(tmp_path / "data"))
    watch = tmp_path / "watch"
    (watch / "20250301T120000_MeetMax_1.csv").write_text("A,B\n")
    (watch / "20250302T120000_MeetMax_1.csv").write_text("A,B\n1,2\n")
    (watch / "20250303T120000_MeetMax_1.csv").write_text("A,B\ninvalid event id,2\n")
    assert [r.status for r in job.run()] == ["Empty", "Active", "Empty"]
    assert sorted(os.listdir(tmp_path / "data")) == ["tmeetmaxevent"]
    assert job.table.read().count() == 1


def test_run_file_starts_one_spark_job(spark, tmp_path, jobs_of):
    """A delivered file costs one Spark job, the write: the header is
    read on the driver, the gates ride the write, the target's columns
    come from its footers. An Empty file costs at most that job."""
    cfg = _config(tmp_path)
    reg = DatasetRegistry(spark, str(tmp_path / "registry"))
    job = ImportJob(spark, cfg, reg, str(tmp_path / "data"))
    watch = tmp_path / "watch"
    files = {
        "20250301T120000_MeetMax_1.csv": ("A,B\n1,2\n3,4\n", "Active", 1),  # new table
        "20250302T120000_MeetMax_1.csv": ("A,B,C\n5,6,7\n", "Active", 1),  # existing, evolves
        "20250303T120000_MeetMax_1.csv": ("A\nInvalid Event ID\n", "Empty", 1),
        "20250304T120000_MeetMax_1.csv": ("A,B\n", "Empty", 1),
        "20250305T120000_MeetMax_1.csv": ("", "Empty", 0),
    }
    for name, (body, status, max_jobs) in files.items():
        (watch / name).write_text(body)
        res, jobs = jobs_of(lambda: job.run_file(str(watch / name)))
        assert res.status == status, name
        if status == "Active":
            assert len(jobs) == 1, name
        else:
            assert len(jobs) <= max_jobs, name
    assert job.table.read().count() == 3


def test_compaction_rewrites_only_crowded_partitions(spark, tmp_path):
    """Compaction rewrites the partitions over the target file count,
    each with its own schema, and leaves the others' files alone."""
    from etl_database_spark.maintenance import compact_table

    tbl = str(tmp_path / "t")
    one = spark.createDataFrame([("a", "2025-03-01")], "x string, datasetdate string")
    one.write.partitionBy("datasetdate").parquet(tbl)
    crowded = spark.createDataFrame(
        [(str(i), f"y{i}", "2025-03-02") for i in range(6)], "x string, y string, datasetdate string"
    )
    crowded.repartition(3).write.mode("append").partitionBy("datasetdate").parquet(tbl)
    quiet = os.path.join(tbl, "datasetdate=2025-03-01")
    before = {f: os.stat(os.path.join(quiet, f)).st_mtime_ns for f in os.listdir(quiet)}

    compact_table(spark, tbl, target_files=1)

    assert {f: os.stat(os.path.join(quiet, f)).st_mtime_ns for f in os.listdir(quiet)} == before
    busy = os.path.join(tbl, "datasetdate=2025-03-02")
    assert len([f for f in os.listdir(busy) if f.endswith(".parquet")]) == 1
    out = spark.read.option("mergeSchema", "true").parquet(tbl)
    assert sorted(tuple(r) for r in out.select("x", "y").collect()) == sorted(
        [("a", None)] + [(str(i), f"y{i}") for i in range(6)]
    )
    # no stage (.t.stage-<hex>, which took the replaced files) and no
    # journal (.t.commit) is left beside the table
    assert sorted(os.listdir(tmp_path)) == ["t"]
