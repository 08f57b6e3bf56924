from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="session")
def spark(tmp_path_factory):
    from pyspark.sql import SparkSession

    warehouse = str(tmp_path_factory.mktemp("warehouse"))
    s = (
        SparkSession.builder.master("local[4]")
        .appName("etl_database_spark_tests")
        .config("spark.driver.memory", "6g")
        .config("spark.sql.warehouse.dir", warehouse)
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
    )
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@pytest.fixture
def jobs_of(spark):
    """``jobs_of(fn)`` → (fn(), ids of the Spark jobs fn started),
    counted under a fresh job group."""
    import uuid

    sc = spark.sparkContext

    def run(fn):
        group = f"jobs-of-{uuid.uuid4().hex}"
        sc.setJobGroup(group, "jobs_of")
        try:
            out = fn()
            return out, list(sc.statusTracker().getJobIdsForGroup(group))
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)

    return run
