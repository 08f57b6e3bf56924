"""Persisted incremental substring-dedup state: corpus-lifetime
window-hash counts.

:mod:`etl_database_spark.functions.spans` detects duplicated >= W-token
runs with a corpus-wide count over rolling window hashes. At 100 TB
that count cannot be recomputed from scratch per ingestion day — this
store makes it incremental with the engine's standard batch lifecycle
(:class:`~etl_database_spark.operators.batchstore.BatchStore`):
batch-keyed idempotent ingest with a commit-after-write manifest,
merge-on-read serving, compaction recording absorbed ids.

The stored measure is just ``(h, cnt)`` — and counts are ADDITIVE,
which buys the two properties the Bloom seen-set cannot offer:

- **exactness**: a window is duplicated iff its merged count > 1 — no
  false positives, so per-document span statistics from the store are
  *identical* to a full-corpus batch recompute under ANY batch split
  (the registered query proves it against the one-shot DuckDB oracle);
- **retraction**: a bad batch's contribution is removed exactly by
  ingesting negated counts (same algebra as the rollup's count
  measures) — the Bloom filter would need a rebuild.

Cost model at scale: ingesting a day costs one groupBy over the day's
windows; profiling a day costs one hash join of the day's windows
against the store. Both linear in day size (+ store size for the
join's build side, which a production deployment bounds by bucketing
the store on ``h``). The md5 window hash is kept for cross-engine
verification; at 100 TB the first change is xxhash64 (8-byte shuffle
keys), which the span algebra is agnostic to.

No counterpart in the reference repo (training-data extension).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_database_spark.functions import spans as SP
from etl_database_spark.operators.batchstore import BatchStore


class SpanStore(BatchStore):
    CONFIG_FILE = "_span_config.json"

    def __init__(self, spark: SparkSession, path: str, w: int = SP.WINDOW):
        """``w`` (window size in tokens) is part of the store identity:
        counts of different window widths must never merge. Persisted
        on first write; reopening with a different value raises."""
        super().__init__(spark, path)
        self.w = w
        self._check_config()

    def _config(self) -> dict:
        return {"w": self.w}

    def _config_mismatch(self, stored: dict, current: dict) -> str:
        return (
            f"span store {self.path} was built with w={stored.get('w')}; "
            f"reopening with w={current.get('w')} would merge counts of "
            "different window widths — pass the original size or rebuild"
        )

    # -- write path -------------------------------------------------------

    def _batch_counts(self, docs: DataFrame, text_col: str, id_col: str) -> DataFrame:
        wins = SP.window_hashes(SP.tokenized(docs, text_col, id_col), self.w)
        return wins.groupBy("h").agg(F.count("*").cast("long").alias("cnt"))

    def ingest(
        self, docs: DataFrame, batch: str, text_col: str = "text", id_col: str = "doc_id"
    ) -> bool:
        """Add one document batch's window counts. Idempotent per batch
        id (manifest commit only after the write); crash partials are
        never read and are swept by the next batch write."""
        return self._write_signed(docs, batch, text_col, id_col, sign=1)

    def retract(
        self, docs: DataFrame, batch: str, text_col: str = "text", id_col: str = "doc_id"
    ) -> bool:
        """Remove a previously delivered batch's counts exactly, by
        ingesting negated counts under a NEW batch id — after
        retraction, served counts (and therefore span profiles) are as
        if the batch never existed. Must be called with exactly the
        documents of a previously ingested batch: negated counts for
        never-ingested windows leave negative residue that silently
        cancels a FUTURE ingest of the same windows."""
        return self._write_signed(docs, batch, text_col, id_col, sign=-1)

    def _write_signed(
        self, docs: DataFrame, batch: str, text_col: str, id_col: str, sign: int
    ) -> bool:
        if not self._begin_batch(batch):
            return False
        counts = self._batch_counts(docs, text_col, id_col).select(
            "h", (F.lit(sign) * F.col("cnt")).cast("long").alias("cnt")
        )
        self._write_batch(counts, batch, retraction=sign < 0)
        return True

    # -- read path --------------------------------------------------------

    def counts(self) -> DataFrame:
        """Merged corpus-lifetime (h, cnt): SUM across batches,
        retraction negatives folded away."""
        return (
            self._read()
            .groupBy("h")
            .agg(F.sum("cnt").cast("long").alias("cnt"))
            .where(F.col("cnt") > 0)
        )

    def profile(
        self, docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
    ) -> DataFrame:
        """Per-document duplicated-span stats of ``docs`` against the
        CORPUS-SO-FAR counts (the documents are expected to be
        ingested): (doc_id, n_tokens, dup_tokens, n_spans), exactly
        what functions.spans.duplicate_span_stats returns on the full
        corpus — under any batch split, proven by test and oracle."""
        toks = SP.tokenized(docs, text_col, id_col)
        wins = SP.window_hashes(toks, self.w)
        dup_h = self.counts().where(F.col("cnt") > 1).select("h")
        dup_wins = wins.join(dup_h, "h", "left_semi").select("doc_id", "pos")
        spans = SP._merge_islands(dup_wins, self.w)
        per_doc = spans.groupBy("doc_id").agg(
            F.sum(F.col("e") - F.col("s")).cast("long").alias("dup_tokens"),
            F.count("*").cast("long").alias("n_spans"),
        )
        return (
            toks.select("doc_id", F.size("toks").cast("long").alias("n_tokens"))
            .join(per_doc, "doc_id", "left")
            .fillna(0, subset=["dup_tokens", "n_spans"])
        )

    # -- maintenance ------------------------------------------------------

    def _compact_fold(self, tmp: str) -> None:
        """Counts fold by SUM; retraction negatives cancel here, so the
        compacted base is all-positive."""
        folded = self.counts().withColumn("batch", F.lit(self.BASE_BATCH))
        folded.write.mode("overwrite").partitionBy("batch").parquet(tmp)
