"""Run/audit logging: append-only structured log with run lineage.

Re-expresses the reference's log layer (systemscripts/log_utils.py:24-128
writing dba.tlogentry, setup_dba_maintenance.sql:51-61): every step
carries a run UUID, a step counter, per-step and cumulative runtimes.
Storage is an append-mode Parquet table; retention is a filter-rewrite
(the ppurgeoldlogs shape, onboarding/sql/log_cleanup.sql:2-115).
"""

from __future__ import annotations

import datetime as dt
import getpass
import os
import time
import uuid

from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from etl_database_spark import commit

LOG_SCHEMA = T.StructType(
    [
        T.StructField("logid", T.StringType(), False),
        T.StructField("timestamp", T.TimestampType(), False),
        T.StructField("run_uuid", T.StringType(), False),
        T.StructField("processtype", T.StringType(), True),
        T.StructField("stepcounter", T.IntegerType(), True),
        T.StructField("username", T.StringType(), True),
        T.StructField("stepruntime", T.DoubleType(), True),
        T.StructField("totalruntime", T.DoubleType(), True),
        T.StructField("message", T.StringType(), True),
    ]
)


class RunLogger:
    """Per-run step logger (log_utils.py semantics): buffered in the
    driver, flushed to the log table in one append per flush — the log
    is an audit stream, not a hot path."""

    def __init__(self, spark: SparkSession, path: str, processtype: str):
        self.spark = spark
        self.path = path
        self.processtype = processtype
        self.run_uuid = str(uuid.uuid4())
        self.step = 0
        self.t_start = time.time()
        self.t_last = self.t_start
        self._buffer: list[Row] = []

    def log(self, message: str) -> None:
        now = time.time()
        self.step += 1
        self._buffer.append(
            Row(
                logid=str(uuid.uuid4()),
                timestamp=dt.datetime.now(),
                run_uuid=self.run_uuid,
                processtype=self.processtype,
                stepcounter=self.step,
                username=getpass.getuser(),
                stepruntime=round(now - self.t_last, 6),
                totalruntime=round(now - self.t_start, 6),
                message=message,
            )
        )
        self.t_last = now

    def flush(self) -> None:
        if not self._buffer:
            return
        df = self.spark.createDataFrame(self._buffer, LOG_SCHEMA)
        df.coalesce(1).write.mode("append").parquet(self.path)
        self._buffer = []

    def __enter__(self):
        self.log("run started")
        return self

    def __exit__(self, exc_type, exc, tb):
        self.log(f"run finished ({'error: ' + str(exc) if exc else 'ok'})")
        self.flush()
        return False


def read_logs(spark: SparkSession, path: str) -> DataFrame:
    commit.recover(path)
    if os.path.exists(path):
        return spark.read.parquet(path)
    return spark.createDataFrame([], LOG_SCHEMA)


def purge_old_logs(spark: SparkSession, path: str, keep_days: int) -> int:
    """Retention delete: keep only rows newer than the threshold
    (log_cleanup.sql:10-91 → filter + a rewrite published through
    ``commit``). Returns rows removed."""
    df = read_logs(spark, path)
    cutoff = dt.datetime.now() - dt.timedelta(days=keep_days)
    before = df.count()
    kept = df.where(F.col("timestamp") >= F.lit(cutoff))
    n_kept = kept.count()
    if n_kept < before:
        with commit.replacing(path) as new:
            kept.write.parquet(new)
    return before - n_kept
