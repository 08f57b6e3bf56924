"""Persisted incremental DSIR feature store.

One-shot :func:`functions.dsir.dsir_weights` re-tokenizes the whole
raw pool every run — wrong at 100 TB, where the pool accretes a batch
at a time. ``DsirStore`` follows the engine's persisted-store pattern
(:class:`~etl_database_spark.operators.batchstore.BatchStore`):

- :meth:`set_target` fixes the target corpus's bucket LM once (an
  ``n_buckets``-row counter table under ``_target`` — always tiny).
- :meth:`ingest` tokenizes ONE batch into hashed (doc, bucket, cnt)
  feature rows, written partitioned by ``batch`` with
  dynamic-partition-overwrite and a commit-after-write manifest —
  replaying a batch id is a no-op, a crash mid-write retries cleanly.
  A new day of documents costs tokenizing that day, never the pool.
- :meth:`serve_weights` derives the CURRENT importance weights from
  stored features only: raw bucket totals are one counter-sized
  aggregate, the log-ratio table is ``n_buckets`` rows (broadcast),
  per-doc weights one shuffle of (doc, bucket) rows. Because the raw
  LM is a property of the whole pool, every document's weight
  legitimately shifts as the pool grows — recomputing weights from
  stored counts is exactly the semantics, at counter cost.
- :meth:`compact` folds per-batch feature partitions into
  ``batch=base`` (counts are additive), bounding merge-on-read
  fan-in; absorbed ids stay no-ops.

Verified in tests/test_dsirstore.py: 3-batch ingest + replay +
compaction serves weights equal to the one-shot operator on the
unioned pool (1e-9), and selection ranks identically.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_database_spark import commit
from etl_database_spark.functions.dsir import (
    DSIR_BUCKETS_DEFAULT,
    _bucket_log_probs,
    _doc_features,
    select_from_weights,
)
from etl_database_spark.operators.batchstore import BatchStore


class DsirStore(BatchStore):
    CONFIG_FILE = "_dsir_meta.json"
    TARGET_SUBDIR = "_target"

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        n_buckets: int = DSIR_BUCKETS_DEFAULT,
        portable_hash: bool = False,
    ):
        super().__init__(spark, path)
        self.n_buckets = n_buckets
        self.portable_hash = portable_hash
        commit.recover(os.path.join(path, self.TARGET_SUBDIR))
        self._check_config()

    def _config(self) -> dict:
        return {"n_buckets": self.n_buckets, "portable_hash": self.portable_hash}

    def _config_mismatch(self, stored: dict, current: dict) -> str:
        return (
            f"DSIR store {self.path} was built with n_buckets="
            f"{stored.get('n_buckets')}, portable_hash="
            f"{stored.get('portable_hash')} — hashing identity cannot "
            "change under a store"
        )

    # -- target ----------------------------------------------------------

    def set_target(
        self, target: DataFrame, text_col: str = "text", id_col: str = "doc_id"
    ) -> None:
        """Fix (or replace) the target corpus LM: per-bucket counts,
        n_buckets rows. Replacing the target only changes the ratio
        table — stored raw features stay valid. The new target is
        published in place of the old one (``commit.py``)."""
        counts = (
            _doc_features(target, text_col, id_col, self.n_buckets, self.portable_hash)
            .groupBy("bucket")
            .agg(F.sum("cnt").cast("long").alias("c"))
        )
        with commit.replacing(os.path.join(self.path, self.TARGET_SUBDIR)) as new:
            counts.coalesce(1).write.parquet(new)
        self._write_raw(self.CONFIG_FILE, self._config())

    # -- write path ------------------------------------------------------

    def ingest(
        self,
        docs: DataFrame,
        batch: str,
        text_col: str = "text",
        id_col: str = "doc_id",
    ) -> bool:
        """Tokenize one document batch into stored feature rows.
        Idempotent per batch id; commit-after-write manifest."""
        if not self._begin_batch(batch):
            return False
        feats = _doc_features(docs, text_col, id_col, self.n_buckets, self.portable_hash)
        self._write_batch(feats, batch)
        return True

    # -- read path -------------------------------------------------------

    def features(self) -> DataFrame:
        return self._read()

    def serve_weights(self, id_col: str = "doc_id") -> DataFrame:
        """Current (id, n_grams, log_weight) for every stored document,
        from stored counts only — no re-tokenization."""
        tgt_path = os.path.join(self.path, self.TARGET_SUBDIR)
        if not os.path.isdir(tgt_path):
            raise ValueError(
                f"DSIR store {self.path} has no target LM — call "
                "set_target(target_df) before serving weights"
            )
        feats = self.features().groupBy("doc", "bucket").agg(
            F.sum("cnt").cast("long").alias("cnt")
        )
        tgt_counts = self.spark.read.parquet(tgt_path)
        # rebuild the two dense log-prob tables from counter-sized
        # frames; the shared _bucket_log_probs shape keeps the math
        # identical to the one-shot operator
        tgt_feats = tgt_counts.select(
            F.lit(0).alias("doc"), "bucket", F.col("c").alias("cnt")
        )
        ratio = (
            _bucket_log_probs(tgt_feats, self.n_buckets, "t")
            .join(_bucket_log_probs(feats, self.n_buckets, "r"), "bucket")
            .select(
                "bucket", (F.col("log_p_t") - F.col("log_p_r")).alias("log_ratio")
            )
        )
        return (
            feats.join(F.broadcast(ratio), "bucket")
            .groupBy(F.col("doc").alias(id_col))
            .agg(
                F.sum("cnt").cast("long").alias("n_grams"),
                F.sum(F.col("cnt") * F.col("log_ratio")).alias("log_weight"),
            )
        )

    def serve_select(
        self,
        k: int,
        id_col: str = "doc_id",
        resample: bool = False,
        seed: int = 42,
    ) -> DataFrame:
        return select_from_weights(
            self.serve_weights(id_col), k, id_col, resample, seed
        )

    # -- maintenance -----------------------------------------------------

    def _compact_fold(self, tmp: str) -> None:
        """Fold per-batch feature partitions into batch=base (counts
        are additive)."""
        folded = (
            self.features()
            .groupBy("doc", "bucket")
            .agg(F.sum("cnt").cast("long").alias("cnt"))
            .withColumn("batch", F.lit(self.BASE_BATCH))
        )
        folded.write.mode("overwrite").partitionBy("batch").parquet(tmp)
