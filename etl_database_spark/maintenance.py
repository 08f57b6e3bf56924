"""Maintenance & monitoring jobs.

Re-expresses the reference's ops procedures on Parquet tables:

- ``compact_table`` ≙ VACUUM ANALYZE loop (maintenance_procedures.sql:
  56-116): rewrite a table directory at a target file count — small-file
  compaction is the Parquet analog of vacuuming;
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
import os

from pyspark.sql import DataFrame, Row, SparkSession

from etl_database_spark.registry import _atomic_overwrite


def _layout_partition_cols(path: str) -> list[str]:
    """Partition columns from the hive-style directory layout
    (``col=value`` path segments), walked from the table root. The
    layout is the source of truth — inferring from a hardcoded column
    name would silently flatten any table partitioned by something
    else, destroying partition pruning on the rewrite."""
    cols: list[str] = []
    cur = path
    while True:
        subdirs = [
            d for d in (os.listdir(cur) if os.path.isdir(cur) else [])
            if "=" in d and os.path.isdir(os.path.join(cur, d))
        ]
        if not subdirs:
            return cols
        cols.append(subdirs[0].split("=", 1)[0])
        cur = os.path.join(cur, subdirs[0])


def compact_table(spark: SparkSession, path: str, target_files: int = 8) -> int:
    """Rewrite a Parquet table into ``target_files`` files per
    partition directory; returns file count before compaction."""
    before = sum(len(files) for _, _, files in os.walk(path))
    df = spark.read.option("mergeSchema", "true").parquet(path)
    partition_cols = [c for c in _layout_partition_cols(path) if c in df.columns]
    # the rewrite keeps the partitioning layout
    _atomic_overwrite(df.repartition(target_files), path, partition_cols)
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
        if not os.path.isdir(tpath) or ".tmp." in name or ".old." in name:
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
