"""Persisted incremental Bloom filter — the cross-batch seen-set for
100 TB dedup pipelines.

The batch lifecycle is
:class:`~etl_database_spark.operators.batchstore.BatchStore`:
batch-keyed idempotent ingest with a commit-after-write manifest,
merge-on-read serving, LSM-style compaction that records absorbed
batch ids so late replays stay no-ops. What is stored is the filter of
:mod:`etl_database_spark.functions.bloom` — rows ``(word, bits)``
packed 32 bits per word — whose merge (bitwise OR per word) is
associative, commutative, and **idempotent**, which makes this the
easiest store of the family to reason about: even a *double-committed*
batch could not corrupt it, the manifest exists purely to skip work.

Intended use: each ingestion day inserts the day's document
fingerprints as one batch; the serving filter answers "ever seen this
fingerprint?" in O(filter) per probe batch with zero false negatives,
so exact re-dedup joins only run for bloom-positive candidates —
at a 1% false-positive rate the expensive exact join shrinks by ~99%
for genuinely-new data. Insert-only by construction (like the HLL
sketch): deletion needs a counting filter, out of scope.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_database_spark.functions import bloom as B
from etl_database_spark.operators.batchstore import BatchStore


class BloomStore(BatchStore):
    CONFIG_FILE = "_bloom_config.json"

    def __init__(self, spark: SparkSession, path: str, m_bits: int = B.BLOOM_M_DEFAULT):
        """``m_bits`` is part of the store's identity: positions are
        taken mod m, so filters of different sizes cannot be merged.
        The configured size is persisted on first write and reopening
        with a different value raises instead of silently corrupting
        membership answers."""
        super().__init__(spark, path)
        self.m_bits = m_bits
        self._check_config()

    def _config(self) -> dict:
        return {"m_bits": self.m_bits}

    def _config_mismatch(self, stored: dict, current: dict) -> str:
        return (
            f"bloom store {self.path} was built with "
            f"m_bits={stored.get('m_bits')}; reopening with "
            f"m_bits={current.get('m_bits')} would give wrong membership "
            "answers — pass the original size or rebuild"
        )

    # -- write path -------------------------------------------------------

    def ingest(self, df: DataFrame, key_col: str, batch: str) -> bool:
        """Insert one batch of keys. Idempotent per batch id: replays
        (and replays of compacted batches) return False and write
        nothing. Crash-safe: the manifest entry is written only after
        the parquet write completes; a crashed partial directory is
        swept on the next open or batch write."""
        if not self._begin_batch(batch):
            return False
        self._write_batch(B.bloom_partials(df, key_col, self.m_bits), batch)
        return True

    # -- read path --------------------------------------------------------

    def serve(self) -> DataFrame:
        """The merged filter: OR per word across all batches."""
        return B.bloom_merge(self._read().select("word", "bits"))

    def might_contain(
        self, probes: DataFrame, key_col: str, id_cols: list[str], out_col: str = "bloom_hit"
    ) -> DataFrame:
        """Probe the merged filter: 1 = maybe seen, 0 = definitely new."""
        return B.bloom_might_contain(
            self.serve(), probes, key_col, id_cols, self.m_bits, out_col
        )

    # -- maintenance ------------------------------------------------------

    def _compact_fold(self, tmp: str) -> None:
        """Fold every batch into one ``batch=base`` filter (at most
        m_bits/32 rows total)."""
        folded = self.serve().withColumn("batch", F.lit(self.BASE_BATCH))
        folded.write.mode("overwrite").partitionBy("batch").parquet(tmp)
