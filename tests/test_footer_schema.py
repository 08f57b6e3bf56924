"""Schemas read from Parquet footers on the driver equal Spark's own
inference, and building a frame over them starts no Spark job."""

import datetime as dt
import decimal
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.errors import AnalysisException

from etl_database_spark.ingest import TargetTable
from etl_database_spark.maintenance import read_parquet
from etl_database_spark.queries import table
from etl_database_spark.timeutil import normalize_event_time

NANOS_AS_LONG = "spark.sql.legacy.parquet.nanosAsLong"
FIXTURES = [
    (sf, name[: -len(".parquet")])
    for sf in ("/root/testdata/sf0.001", "/root/testdata/sf0.01")
    if os.path.isdir(sf)
    for name in sorted(os.listdir(sf))
    if name.endswith(".parquet")
]


@pytest.fixture
def nanos_as_long(spark):
    """Set ``nanosAsLong`` for one test; restore the session's value."""
    before = spark.conf.get(NANOS_AS_LONG)

    def set_to(value: bool):
        spark.conf.set(NANOS_AS_LONG, str(value).lower())

    yield set_to
    spark.conf.set(NANOS_AS_LONG, before)


@pytest.mark.skipif(not FIXTURES, reason="no fixture tables")
@pytest.mark.parametrize("sf,name", FIXTURES,
                         ids=[f"{os.path.basename(sf)}-{name}" for sf, name in FIXTURES])
def test_fixture_table_schema_matches_inference(spark, jobs_of, sf, name):
    path = os.path.join(sf, f"{name}.parquet")
    df, jobs = jobs_of(lambda: table(spark, sf, name))
    assert jobs == []
    # table() sets nanosAsLong for events before it reads, as below.
    inferred = spark.read.parquet(path)
    assert read_parquet(spark, path).schema == inferred.schema
    assert df.schema == normalize_event_time(inferred).schema


def test_arrow_types_match_inference(spark, tmp_path, jobs_of):
    """A pyarrow-written file (no Spark schema record) maps as Spark's
    reader maps its Parquet types: unsigned ints widen, naive
    timestamps are TIMESTAMP_NTZ, nested types keep their shape."""
    path = str(tmp_path / "types.parquet")
    pq.write_table(pa.table({
        "i8": pa.array([1], pa.int8()),
        "u8": pa.array([1], pa.uint8()),
        "u16": pa.array([1], pa.uint16()),
        "u32": pa.array([1], pa.uint32()),
        "u64": pa.array([1], pa.uint64()),
        "f32": pa.array([1.0], pa.float32()),
        "s": pa.array(["x"], pa.large_string()),
        "cat": pa.array(["x"]).dictionary_encode(),
        "bin": pa.array([b"x"], pa.binary(1)),
        "d": pa.array([dt.date(2020, 1, 1)], pa.date64()),
        "dec": pa.array([decimal.Decimal("1.5")], pa.decimal128(10, 2)),
        "ts_s": pa.array([1], pa.timestamp("s")),
        "ts_us": pa.array([1], pa.timestamp("us")),
        "ts_ms_ny": pa.array([1], pa.timestamp("ms", "America/New_York")),
        "lst": pa.array([[1.0]], pa.list_(pa.float32())),
        "st": pa.array([{"a": 1, "b": "x"}]),
        "mp": pa.array([[("k", 1)]], pa.map_(pa.string(), pa.int64())),
    }), path)
    df, jobs = jobs_of(lambda: read_parquet(spark, path))
    assert df.schema == spark.read.parquet(path).schema
    assert jobs == []


def test_nanos_and_int96_match_inference(spark, tmp_path, nanos_as_long):
    """TIMESTAMP(NANOS) is a long under nanosAsLong and an
    AnalysisException without it, as in Spark; INT96 is TIMESTAMP."""
    nanos, int96 = str(tmp_path / "nanos.parquet"), str(tmp_path / "int96.parquet")
    ts = pa.array([1_700_000_000_123_456_789], pa.timestamp("ns"))
    pq.write_table(pa.table({"ts": ts, "utc": ts.cast(pa.timestamp("ns", "UTC"))}), nanos)
    pq.write_table(pa.table({"ts": ts}), int96, use_deprecated_int96_timestamps=True)
    assert pq.read_metadata(int96).schema.column(0).physical_type == "INT96"

    nanos_as_long(True)
    for path in (nanos, int96):
        assert read_parquet(spark, path).schema == spark.read.parquet(path).schema
    assert read_parquet(spark, nanos).dtypes == [("ts", "bigint"), ("utc", "bigint")]
    assert read_parquet(spark, nanos).collect() == spark.read.parquet(nanos).collect()

    nanos_as_long(False)
    assert read_parquet(spark, int96).schema == spark.read.parquet(int96).schema
    for read in (lambda: spark.read.parquet(nanos).schema, lambda: read_parquet(spark, nanos)):
        with pytest.raises(AnalysisException, match="PARQUET_TYPE_ILLEGAL"):
            read()


def test_nanos_fixture_reads_as_micros(spark, tmp_path, jobs_of):
    """An events table from the fixture generation with TIMESTAMP(NANOS)
    reads through table() with no job and microsecond timestamps."""
    ts = pa.array([1_700_000_000_123_456_789], pa.timestamp("ns"))
    pq.write_table(pa.table({"event_id": [1], "ts": ts}), str(tmp_path / "events.parquet"))
    df, jobs = jobs_of(lambda: table(spark, str(tmp_path), "events"))
    assert jobs == []
    assert df.dtypes == [("event_id", "bigint"), ("ts", "timestamp")]
    assert df.collect()[0].ts == dt.datetime(2023, 11, 14, 22, 13, 20, 123456)


def test_target_table_read_matches_merge_schema(spark, tmp_path, jobs_of):
    """After strategy-1 drift columns land in later (and earlier-sorted)
    partitions, read() has the mergeSchema read's schema, column order
    and partition column included, and builds with no Spark job."""
    t = TargetTable(spark, str(tmp_path), "evt")
    day = dt.date(2025, 3, 1)
    batches = [
        ("a string, b bigint", ("x", 1), day),
        ("c string, a string, b bigint", ("c", "x", 2), day + dt.timedelta(days=2)),
        ("a string, d double", ("x", 1.0), day - dt.timedelta(days=1)),
    ]
    for cols, row, d in batches:
        t.append(spark.createDataFrame([row + (d,)], cols + ", datasetdate date"))
    df, jobs = jobs_of(t.read)
    assert jobs == []
    merged = spark.read.option("mergeSchema", "true").parquet(t.path)
    assert df.schema == merged.schema
    assert sorted(map(str, df.collect())) == sorted(map(str, merged.collect()))
