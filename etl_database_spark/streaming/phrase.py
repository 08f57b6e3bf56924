"""Streaming maintenance of the phrase-search inverted index.

Same exactly-once glue as the other persisted-store streams
(streaming/rollup.py, bloom.py, spans.py, winnow.py, edges.py):
checkpoint-identity binding, micro-batch id = store batch id,
replay-no-op ingest. Postings are signed additive rows, so the
streamed index serves EXACTLY what a batch build over the same
documents serves — the registered ``streaming_phrase_search`` row
reuses the one-shot corpus-scan oracle, so a green hash IS the
stream-batch invariance proof for the search index.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from etl_database_spark.operators.phraseindex import PhraseIndexStore
from etl_database_spark.streaming.near_dup import _bind, _checkpoint_stream_id


def run_phrase_once(
    spark: SparkSession,
    stream: DataFrame,
    store_path: str,
    checkpoint: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
) -> PhraseIndexStore:
    """Drain the document stream (AvailableNow) into the phrase index,
    one store batch per micro-batch, and return it for serving."""
    store = PhraseIndexStore(spark, store_path, n=n)

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        _bind(store_path, _checkpoint_stream_id(checkpoint), kind="phrase index")
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
