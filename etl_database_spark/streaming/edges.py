"""Streaming maintenance of the similarity-edge EdgeStore.

Same exactly-once glue as the other persisted-store streams
(streaming/rollup.py, streaming/bloom.py, streaming/spans.py,
streaming/winnow.py): checkpoint-identity binding, micro-batch id =
store batch id, replay-no-op ingest. Signature rows and verified
edges are signed additive rows, and incremental candidate discovery
finds every cross-batch pair exactly once (each new batch LSH-joins
against the merged signature table, which already contains it), so
the streamed store serves the SAME edge set a batch build over the
same documents serves — with ``portable=True`` the served pairs carry
the one-shot DuckDB oracle (queries/llmdata.py
``streaming_edgestore_pairs``) and a green hash IS the stream-batch
invariance proof.

``corpus`` contract: the verify step needs candidate text for every
ingested document, so the caller passes the full document table (at
scale: the data lake's document view — the verify only scans the
semi-joined candidate slice, never the whole table).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from etl_database_spark.operators.edgestore import EdgeStore
from etl_database_spark.streaming.near_dup import _bind, _checkpoint_stream_id


def run_edges_once(
    spark: SparkSession,
    stream: DataFrame,
    store_path: str,
    checkpoint: str,
    corpus: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    **store_params,
) -> EdgeStore:
    """Drain the document stream (AvailableNow) into the edge store,
    one store batch per micro-batch, and return it for serving.
    ``store_params`` are the EdgeStore identity parameters
    (n/num_perm/bands/threshold/min_agree/max_bucket/portable)."""
    store = EdgeStore(spark, store_path, **store_params)

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        _bind(store_path, _checkpoint_stream_id(checkpoint), kind="edge store")
        if batch_df.isEmpty():
            return
        store.ingest(
            batch_df,
            batch=f"s{batch_id}",
            corpus=corpus,
            text_col=text_col,
            id_col=id_col,
        )

    (
        stream.writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    return store
