"""Streaming maintenance of the persisted Bloom seen-set.

Same exactly-once glue as the other persisted-store streams
(streaming/rollup.py, streaming/near_dup.py): the store is bound to
the stream checkpoint's query id (fresh-checkpoint batch ids restart
at 0 and would collide), and a foreachBatch replay of a batch id is a
no-op in ``BloomStore.ingest``. The Bloom filter is the friendliest
store of the family for streaming: its merge (bitwise OR) is
*idempotent*, so even the pathological double-commit cannot corrupt
membership answers — the manifest only avoids wasted work.

Use: an ingestion stream inserts each micro-batch's document
fingerprints; any session (including other concurrent batch jobs) can
serve "ever seen?" probes from the same store path mid-stream —
which is why this is a persisted store and not stream-engine state
(external readability, corpus-lifetime no-watermark retention).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from etl_database_spark.functions import bloom as B
from etl_database_spark.operators.bloomstore import BloomStore
from etl_database_spark.streaming.near_dup import _bind, _checkpoint_stream_id


def run_bloom_once(
    spark: SparkSession,
    stream: DataFrame,
    key_col: str,
    store_path: str,
    checkpoint: str,
    m_bits: int = B.BLOOM_M_DEFAULT,
) -> BloomStore:
    """Drain the stream (AvailableNow) into the Bloom store, one store
    batch per micro-batch, and return the store for probing."""
    store = BloomStore(spark, store_path, m_bits=m_bits)

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        _bind(store_path, _checkpoint_stream_id(checkpoint), kind="bloom store")
        if batch_df.isEmpty():
            return
        store.ingest(batch_df, key_col, batch=f"s{batch_id}")

    (
        stream.writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    return store
