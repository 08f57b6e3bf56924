"""Streaming file-watcher ingest.

The reference polls a watch directory by cron and archives consumed
files (generic_import.py:520-545, 780-791). Structured Streaming's
file source gives the same semantics natively: checkpointed discovery
(exactly-once per file), ``cleanSource=archive`` for the move-after-
load behavior, micro-batches ≙ cron ticks.

``watch_csv_stream`` builds the streaming frame with the same
normalize/inject transforms as the batch path; ``run_once`` drives one
micro-batch (Trigger.AvailableNow) — the cron-run equivalent — and is
what tests exercise. The per-batch dataset registration reuses the
registry's single-active enforcement via ``foreachBatch`` (the
streaming analog of the reference's trigger, SURVEY.md §2.9).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from etl_database_spark.ingest import ImportConfig, TargetTable, normalize_columns
from etl_database_spark.metadata import file_metadata_columns
from etl_database_spark.registry import DatasetRegistry


def watch_csv_stream(
    spark: SparkSession,
    config: ImportConfig,
    schema: T.StructType,
    archive: bool = True,
) -> DataFrame:
    """Streaming read of the watch dir with filename-derived metadata
    columns. The file source requires an explicit schema (streams can't
    infer); pass the schema captured from a batch read of a sample."""
    reader = (
        spark.readStream.schema(schema)
        .option("header", "true")
        .option("sep", config.delimiter)
        .option("maxFilesPerTrigger", 1000)
    )
    if archive:
        reader = reader.option("cleanSource", "archive").option(
            "sourceArchiveDir", config.archive_directory
        )
    df = reader.csv(config.source_directory)
    label_col, date_col = file_metadata_columns(config.metadata)
    return (
        normalize_columns(df)
        .withColumn("label", label_col)
        .withColumn("datasetdate", date_col)
    )


def run_once(
    spark: SparkSession,
    config: ImportConfig,
    schema: T.StructType,
    registry: DatasetRegistry,
    data_root: str,
    checkpoint_dir: str,
) -> int:
    """Drive one micro-batch (AvailableNow) through foreachBatch:
    register datasets per (label, date), stamp datasetid, append to the
    target table. Returns rows ingested in this batch."""
    stream = watch_csv_stream(spark, config, schema, archive=False)
    table = TargetTable(spark, data_root, config.target_table)
    counts = {"rows": 0}

    def handle_batch(batch_df: DataFrame, batch_id: int) -> None:
        # the key collect doubles as the emptiness check: no keys, no rows
        keys = [
            (r["label"], r["datasetdate"])
            for r in batch_df.select("label", "datasetdate").distinct().collect()
        ]
        if not keys:
            return
        type_id = registry.ensure_type(config.datasettype)
        source_id = registry.ensure_source(config.datasource)
        # one registry rewrite for all of the batch's keys
        id_map = registry.register_snapshots([(d, label) for label, d in keys], type_id,
                                             source_id)
        mapping = batch_df.sparkSession.createDataFrame(
            [(label, d, i) for (label, d), i in id_map.items()],
            "label string, datasetdate date, datasetid long",
        )
        out = batch_df.join(F.broadcast(mapping), ["label", "datasetdate"]).drop("label")
        # rows counted during the append job; a count() afterwards would
        # execute the batch a second time
        obs = Observation()
        table.append(out.observe(obs, F.count(F.lit(1)).alias("rows")), config.import_strategy)
        counts["rows"] += obs.get["rows"]

    q = (
        stream.writeStream.foreachBatch(handle_batch)
        .option("checkpointLocation", os.path.join(checkpoint_dir, config.config_name))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return counts["rows"]
