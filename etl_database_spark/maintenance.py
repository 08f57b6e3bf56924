"""Maintenance & monitoring jobs.

Re-expresses the reference's ops procedures on Parquet tables:

- ``compact_table`` ≙ VACUUM ANALYZE loop (maintenance_procedures.sql:
  56-116): rewrite each partition directory that holds too many files
  at a target file count — small-file compaction is the Parquet analog
  of vacuuming;
- ``table_stats_snapshot`` ≙ pcapturetableindexstats
  (table_index_monitoring.sql:61-149): per-table row/byte/file counts
  appended to a stats table with a capture timestamp;
- ``purge_old_logs`` lives in logutil (log_cleanup.sql analog);
- long-running-query monitoring (monitor_long_running_queries.sql) maps
  to Spark's listener/UI infrastructure; ``active_jobs_snapshot``
  captures the statusTracker view of active stages.
"""

from __future__ import annotations

import datetime as dt
import json
import os
from collections.abc import Iterator

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql import types as T
from pyspark.sql.pandas.types import from_arrow_type

from etl_database_spark import commit

# Footer key under which Spark stores the schema it wrote.
SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"


def data_dirs(path: str) -> Iterator[tuple[str, list[str]]]:
    """(directory, data files) for every directory under the table
    ``path`` that holds data files directly: the table itself when it
    is unpartitioned, else each hive partition directory. Data files
    are the ones Spark reads — names not starting with ``_`` or ``.``
    (which skips ``_SUCCESS`` and the ``.crc`` checksums)."""
    for dirpath, dirnames, files in os.walk(path):
        dirnames[:] = sorted(d for d in dirnames if not d.startswith(("_", ".")))
        data = sorted(os.path.join(dirpath, f) for f in files if not f.startswith(("_", ".")))
        if data:
            yield dirpath, data


def footer_schema(spark: SparkSession, files: list[str]) -> T.StructType:
    """The union by name of the files' schemas, read from their Parquet
    footers on the driver — what Spark's schema inference finds over
    the same files (a ``mergeSchema`` read over all of them, a plain
    read over the first), without its Spark job. A file Spark wrote
    carries Spark's own schema record; any other is mapped from its
    Parquet types as Spark's reader maps them: a naive timestamp is
    TIMESTAMP_NTZ (under ``spark.sql.parquet.inferTimestampNTZ.enabled``),
    INT96 is TIMESTAMP, and TIMESTAMP(NANOS) is a long under
    ``spark.sql.legacy.parquet.nanosAsLong`` and an AnalysisException
    otherwise. Every field reads back nullable, as in any file scan."""
    conf = spark.conf
    prefer_ntz = conf.get("spark.sql.parquet.inferTimestampNTZ.enabled", "true") == "true"
    nanos_as_long = conf.get("spark.sql.legacy.parquet.nanosAsLong", "false") == "true"
    fields: dict[str, T.StructField] = {}
    for f in files:
        meta = pq.read_metadata(f)
        spark_json = (meta.metadata or {}).get(SPARK_SCHEMA_KEY)
        if spark_json:
            struct = T.StructType.fromJson(json.loads(spark_json))
        else:
            int96 = any(meta.schema.column(i).physical_type == "INT96"
                        for i in range(meta.num_columns))
            struct = _spark_type(meta.schema.to_arrow_schema(), int96, nanos_as_long, prefer_ntz)
        for fld in struct.fields:
            fields.setdefault(fld.name, fld)
    return T.StructType(list(fields.values()))


# Parquet's unsigned ints widen to the next signed Spark type.
_UNSIGNED = {8: T.ShortType(), 16: T.IntegerType(), 32: T.LongType(), 64: T.DecimalType(20, 0)}


def _spark_type(t, int96: bool, nanos_as_long: bool, prefer_ntz: bool) -> T.DataType:
    """The Spark type Spark's Parquet reader gives the Arrow type ``t``
    of a column read from a footer; ``t`` may be an Arrow schema.
    pyarrow reads INT96 and TIMESTAMP(NANOS) both as ``timestamp[ns]``,
    so ``int96`` tells them apart (a file holds one or the other)."""
    def sub(u):
        return _spark_type(u, int96, nanos_as_long, prefer_ntz)

    if isinstance(t, (pa.Schema, pa.StructType)):
        return T.StructType([T.StructField(f.name, sub(f.type)) for f in t])
    if pa.types.is_list(t) or pa.types.is_large_list(t) or pa.types.is_fixed_size_list(t):
        return T.ArrayType(sub(t.value_type))
    if pa.types.is_map(t):
        return T.MapType(sub(t.key_type), sub(t.item_type))
    if pa.types.is_timestamp(t) and t.unit == "ns":
        if int96:
            return T.TimestampType()
        if not nanos_as_long:
            raise AnalysisException(
                "[PARQUET_TYPE_ILLEGAL] Illegal Parquet type: "
                f"INT64 (TIMESTAMP(NANOS,{str(t.tz is not None).lower()})).")
        return T.LongType()
    if pa.types.is_unsigned_integer(t):
        return _UNSIGNED[t.bit_width]
    if pa.types.is_time(t):
        raise AnalysisException(f"[PARQUET_TYPE_ILLEGAL] Illegal Parquet type: {t}.")
    return from_arrow_type(t, prefer_timestamp_ntz=prefer_ntz)


def read_parquet(spark: SparkSession, path: str, merge: bool = False) -> DataFrame:
    """``spark.read.parquet(path)`` — with ``mergeSchema`` when
    ``merge`` — whose schema comes from ``footer_schema`` instead of an
    inference job. Hive partition columns are still discovered from the
    directory names, as Spark does for any read. A path with no data
    files is left to Spark, which fails on it as before."""
    files = [f for _, fs in data_dirs(path) for f in fs] if os.path.isdir(path) else [path]
    if not files:
        return spark.read.parquet(path)
    return spark.read.schema(footer_schema(spark, files if merge else files[:1])).parquet(path)


def compact_table(spark: SparkSession, path: str, target_files: int = 8) -> int:
    """Rewrite each partition directory of a Parquet table that holds
    more than ``target_files`` data files into at most that many (an
    unpartitioned table is one partition); returns the table's file
    count before compaction. Each partition keeps its own schema —
    readers union by name — and is written into a stage beside the
    table; all are swapped in by one commit (``commit.py``), the replaced
    data moving into the stage. Partitions at or under the target are
    not touched, so the cost of a compaction follows what was appended
    since the last one, not the table size."""
    commit.recover(path)
    before = sum(len(files) for _, _, files in os.walk(path))
    with commit.staged(path) as stage:
        moves = []
        for pdir, files in list(data_dirs(path)):
            if len(files) <= target_files:
                continue
            rel = os.path.relpath(pdir, path)
            new = os.path.normpath(os.path.join(stage, "new", rel))
            (
                spark.read.schema(footer_schema(spark, files)).parquet(pdir)
                .coalesce(target_files)
                .write.parquet(new)
            )
            moves += [(pdir, os.path.normpath(os.path.join(stage, "old", rel))), (new, pdir)]
        commit.publish(path, moves)
    return before


def table_stats_snapshot(
    spark: SparkSession, data_root: str, stats_path: str
) -> DataFrame:
    """Capture (table, rows, bytes, files, captured_at) for every table
    under ``data_root`` and append to the stats table."""
    now = dt.datetime.now()
    rows = []
    for name in sorted(os.listdir(data_root)) if os.path.isdir(data_root) else []:
        tpath = os.path.join(data_root, name)
        if not os.path.isdir(tpath) or name.startswith((".", "_")):
            continue
        n_bytes = 0
        n_files = 0
        for dirpath, _, files in os.walk(tpath):
            for f in files:
                if f.endswith(".parquet"):
                    n_files += 1
                    n_bytes += os.path.getsize(os.path.join(dirpath, f))
        try:
            n_rows = spark.read.option("mergeSchema", "true").parquet(tpath).count()
        except Exception:  # noqa: BLE001 — non-table dirs are skipped
            continue
        rows.append(
            Row(
                tablename=name,
                n_rows=n_rows,
                n_bytes=n_bytes,
                n_files=n_files,
                captured_at=now,
            )
        )
    if not rows:
        return spark.createDataFrame(
            [], "tablename string, n_rows long, n_bytes long, n_files long, captured_at timestamp"
        )
    df = spark.createDataFrame(rows)
    df.coalesce(1).write.mode("append").parquet(stats_path)
    return df


def active_jobs_snapshot(spark: SparkSession) -> list[dict]:
    """Status-tracker view of currently active stages (the
    pg_stat_activity analog, monitor_long_running_queries.sql:9-22)."""
    tracker = spark.sparkContext.statusTracker()
    out = []
    for sid in tracker.getActiveStageIds():
        info = tracker.getStageInfo(sid)
        if info:
            out.append(
                {
                    "stage_id": sid,
                    "name": info.name,
                    "num_tasks": info.numTasks,
                    "num_active_tasks": info.numActiveTasks,
                    "num_completed_tasks": info.numCompletedTasks,
                }
            )
    return out
