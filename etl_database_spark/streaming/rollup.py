"""Streaming maintenance of the incremental rollup store.

The batch path (operators/rollup.RollupStore) already has the right
unit of idempotence — one ingest batch = one first-level partition —
so the streaming form is thin: each micro-batch becomes a store batch
keyed by the stream's batch id. What the wrapper adds is the
exactly-once glue the other persisted-store streams use
(streaming/near_dup.py, streaming/semdedup.py):

- the store is BOUND to the stream checkpoint's query id — batch ids
  are only unique within one checkpoint, so a fresh-checkpoint stream
  pointed at an existing store would silently collide with stored
  batch partitions; binding refuses that instead of corrupting;
- a foreachBatch replay of a batch id (crash before the checkpoint
  commit) is a no-op in ``ingest`` once the first attempt committed;
  an uncommitted first attempt is swept and rewritten by the retry;
- serving is the same merge-on-read ``serve()`` as batch, so stream ≡
  batch equivalence is testable row-for-row.

Why not Structured Streaming's own windowed aggregation state? The
rollup is corpus-lifetime (no watermark can close a day that may
receive late corrections months later) and must stay queryable by
OTHER sessions mid-stream — a persisted partial-aggregate store is
the state representation that satisfies both; stream-engine state is
neither externally readable nor unbounded-late-safe.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from etl_database_spark.operators.rollup import RollupStore
from etl_database_spark.streaming.near_dup import _bind, _checkpoint_stream_id


def run_rollup_once(
    spark: SparkSession,
    stream: DataFrame,
    store_path: str,
    checkpoint: str,
    ts_col: str = "ts",
) -> RollupStore:
    """Drain the stream (AvailableNow) into the rollup store, one
    store batch per micro-batch, and return the store for serving."""
    store = RollupStore(spark, store_path)

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        _bind(store_path, _checkpoint_stream_id(checkpoint), kind="rollup store")
        if batch_df.isEmpty():
            return
        store.ingest(batch_df, batch=f"s{batch_id}", ts_col=ts_col)

    (
        stream.writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    return store
