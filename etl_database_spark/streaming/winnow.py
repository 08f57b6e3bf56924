"""Streaming maintenance of the winnowing-fingerprint WinnowStore.

Same exactly-once glue as the other persisted-store streams
(streaming/rollup.py, streaming/bloom.py, streaming/spans.py):
checkpoint-identity binding, micro-batch id = store batch id,
replay-no-op ingest. Postings are additive signed rows, so the
streamed store serves EXACTLY what a batch build over the same
documents serves — similarity pairs carry the one-shot DuckDB oracle
— and retraction stays available on the streamed store (negated
signs).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from etl_database_spark.operators.winnowstore import WinnowStore
from etl_database_spark.streaming.near_dup import _bind, _checkpoint_stream_id


def run_winnow_once(
    spark: SparkSession,
    stream: DataFrame,
    store_path: str,
    checkpoint: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    w: int = 4,
) -> WinnowStore:
    """Drain the document stream (AvailableNow) into the winnow store,
    one store batch per micro-batch, and return it for serving."""
    store = WinnowStore(spark, store_path, k=k, w=w)

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        _bind(store_path, _checkpoint_stream_id(checkpoint), kind="winnow store")
        if batch_df.isEmpty():
            return
        store.ingest(batch_df, batch=f"s{batch_id}", text_col=text_col, id_col=id_col)

    (
        stream.writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    return store
