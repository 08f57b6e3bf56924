"""Streaming maintenance of the substring-dedup SpanStore.

Same exactly-once glue as the other persisted-store streams
(streaming/rollup.py, streaming/bloom.py): checkpoint-identity
binding, micro-batch id = store batch id, replay-no-op ingest. The
window-count measure is additive, so the streamed store serves
EXACTLY what a batch build over the same documents serves — the
equivalence test compares profiles row-for-row, and retraction stays
available on the streamed store (negated counts), unlike the Bloom
twin.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from etl_database_spark.functions import spans as SP
from etl_database_spark.operators.spanstore import SpanStore
from etl_database_spark.streaming.near_dup import _bind, _checkpoint_stream_id


def run_spans_once(
    spark: SparkSession,
    stream: DataFrame,
    store_path: str,
    checkpoint: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    w: int = SP.WINDOW,
) -> SpanStore:
    """Drain the document stream (AvailableNow) into the span store,
    one store batch per micro-batch, and return it for profiling."""
    store = SpanStore(spark, store_path, w=w)

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        _bind(store_path, _checkpoint_stream_id(checkpoint), kind="span store")
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
