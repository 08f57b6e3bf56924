"""Streaming maintenance of the BM25 token index.

Same exactly-once glue as the other persisted-store streams
(streaming/rollup.py, bloom.py, spans.py, winnow.py, edges.py,
phrase.py): checkpoint-identity binding, micro-batch id = store batch
id, replay-no-op ingest. tf postings and doc lengths are signed
additive rows, so the streamed index serves EXACTLY what a batch
build over the same documents serves — the registered
``streaming_bm25_index_scores`` row reuses the one-shot
doc_bm25_scores oracle, so a green hash proves ranked retrieval from
a stream-maintained index equals a full corpus recompute.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from etl_database_spark.operators.tokenindex import TokenIndexStore
from etl_database_spark.streaming.near_dup import _bind, _checkpoint_stream_id


def run_tokenidx_once(
    spark: SparkSession,
    stream: DataFrame,
    store_path: str,
    checkpoint: str,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> TokenIndexStore:
    """Drain the document stream (AvailableNow) into the token index,
    one store batch per micro-batch, and return it for serving."""
    store = TokenIndexStore(spark, store_path)

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        _bind(store_path, _checkpoint_stream_id(checkpoint), kind="token index")
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
