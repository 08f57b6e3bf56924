"""Persisted incremental winnowing-fingerprint state.

:mod:`etl_database_spark.functions.dedup` computes MOSS winnowing
fingerprints (Schleimer, Wilkerson & Aiken, SIGMOD 2003) in one
zero-shuffle pass — but the similarity report joins documents across
the WHOLE corpus, and at 100 TB the corpus cannot be re-fingerprinted
per ingestion day. This store makes the fingerprint layer incremental
with the engine's standard batch lifecycle
(:class:`~etl_database_spark.operators.batchstore.BatchStore`):
batch-keyed idempotent ingest with a commit-after-write manifest,
merge-on-read serving, compaction recording absorbed ids.

The stored unit is a POSTING ``(_id, fp, sign)`` — one row per
document per distinct fingerprint value — and signs are ADDITIVE,
which buys the span store's two properties for the winnowing family:

- **exactness**: a posting exists iff its merged sign > 0, so served
  fingerprint stats and similarity pairs are *identical* to a
  full-corpus batch recompute under ANY batch split (the equivalence
  tests pin this; the skew cap is applied to bucket sizes at SERVE
  time — a corpus-level property — so capping commutes with batching);
- **retraction**: a bad batch's postings are removed exactly by
  ingesting negated signs — no rebuild. Retraction must be called with
  exactly the documents of a previously ingested batch (the tests'
  usage): negated signs for never-ingested postings leave sign<0
  residue that silently cancels a FUTURE ingest of the same
  ``(_id, fp)`` postings.

Cost model at scale: ingesting a day costs one fingerprint pass over
the day's documents (zero shuffles) plus one partitioned write;
serving pairs costs the same bucket self-join the one-shot path pays,
but over stored postings — the expensive normalize+hash+window scan
of historical text never reruns. Fingerprints are md5-32 for
cross-engine verification; at 100 TB the first change is xxhash64,
which the posting algebra is agnostic to.

No counterpart in the reference repo (training-data extension).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_database_spark.functions import dedup as D
from etl_database_spark.operators.batchstore import BatchStore


class WinnowStore(BatchStore):
    CONFIG_FILE = "_winnow_config.json"

    def __init__(self, spark: SparkSession, path: str, k: int = 8, w: int = 4):
        """``(k, w)`` (k-gram size, window width) are part of the
        store identity: fingerprints of different parameters must
        never merge. Persisted on first write; reopening with
        different values raises."""
        super().__init__(spark, path)
        self.k = k
        self.w = w
        self._check_config()

    def _config(self) -> dict:
        return {"k": self.k, "w": self.w}

    def _config_mismatch(self, stored: dict, current: dict) -> str:
        return (
            f"winnow store {self.path} was built with k={stored.get('k')}, "
            f"w={stored.get('w')}; reopening with k={current.get('k')}, "
            f"w={current.get('w')} would merge fingerprints of different "
            "schemes — pass the original parameters or rebuild"
        )

    # -- write path -------------------------------------------------------

    def _batch_postings(self, docs: DataFrame, text_col: str, id_col: str) -> DataFrame:
        sets = D.winnow_fingerprint_sets(docs, text_col, id_col, self.k, self.w)
        # Pin the fingerprint arrays BEFORE exploding: Generate over
        # the raw winnowing expression re-evaluates the whole k-gram
        # md5 chain per OUTPUT row (~n_fps× per document — measured
        # 100× on the sf0.01 fixture), exactly the blow-up
        # winnow_similarity_pairs avoids with its cache. The ingest
        # write is a single action, so an eager localCheckpoint (array
        # rows are tiny) is the materialization barrier here.
        sets = sets.localCheckpoint(eager=True)
        return sets.select("_id", F.explode("_fps").alias("fp"))

    def ingest(
        self, docs: DataFrame, batch: str, text_col: str = "text", id_col: str = "doc_id"
    ) -> bool:
        """Add one document batch's fingerprint postings. Idempotent
        per batch id (manifest commit only after the write); crash
        partials are never read and are swept by the next batch write."""
        return self._write_signed(docs, batch, text_col, id_col, sign=1)

    def retract(
        self, docs: DataFrame, batch: str, text_col: str = "text", id_col: str = "doc_id"
    ) -> bool:
        """Remove a previously delivered batch's postings exactly, by
        ingesting negated signs under a NEW batch id — after
        retraction, served fingerprints and pairs are as if the batch
        never existed. See the module docstring: the documents passed
        here must be exactly a previously ingested batch."""
        return self._write_signed(docs, batch, text_col, id_col, sign=-1)

    def _write_signed(
        self, docs: DataFrame, batch: str, text_col: str, id_col: str, sign: int
    ) -> bool:
        if not self._begin_batch(batch):
            return False
        postings = self._batch_postings(docs, text_col, id_col).select(
            "_id", "fp", F.lit(sign).cast("int").alias("sign")
        )
        self._write_batch(postings, batch, retraction=sign < 0)
        return True

    # -- read path --------------------------------------------------------

    def postings(self) -> DataFrame:
        """Merged corpus-lifetime postings (_id, fp): SUM of signs
        across batches, retraction negatives folded away."""
        return (
            self._read()
            .groupBy("_id", "fp")
            .agg(F.sum("sign").alias("s"))
            .where(F.col("s") > 0)
            .select("_id", "fp")
        )

    def fingerprints(self) -> DataFrame:
        """(_id, n_fps, fp_sum) — exactly what
        functions.dedup.winnow_fingerprints returns on the full
        corpus, under any batch split."""
        return self.postings().groupBy("_id").agg(
            F.count("*").cast("long").alias("n_fps"),
            F.sum("fp").cast("long").alias("fp_sum"),
        )

    def similarity_pairs(
        self,
        min_shared: int = 2,
        min_containment_bp: int = 5000,
        max_bucket: int = 200,
    ) -> DataFrame:
        """MOSS similarity report from the stored postings — the same
        winnow_pairs_from_postings math as the one-shot path, with the
        skew cap evaluated against CURRENT merged bucket sizes.

        The merged postings are materialized ONCE for the pair math:
        winnow_pairs_from_postings fans its input into four plan
        branches (doc sizes, bucket sizes, both self-join sides), and
        each branch would otherwise re-run the parquet scan + sign-fold
        groupBy — four full passes over the store per serve (r11: plan
        shows 4 scan+fold subtrees → 1). r12 (advice): the shared
        frame is a lazy ``persist()`` — the serve's own materializing
        action computes the fold once and the other branches read the
        cached blocks — instead of an eager localCheckpoint of the
        index-sized postings that was never unpersisted (leaked
        executor storage per serve) and, being lineage-cut, could not
        recompute after an executor loss. The bounded post-threshold
        pair list is finished eagerly so the cache can be released
        before returning (the _finish_eager discipline)."""
        folded = self.postings().persist()
        out = D.winnow_pairs_from_postings(
            folded,
            min_shared=min_shared,
            min_containment_bp=min_containment_bp,
            max_bucket=max_bucket,
        ).localCheckpoint(eager=True)
        folded.unpersist()
        return out

    # -- maintenance ------------------------------------------------------

    def _compact_fold(self, tmp: str) -> None:
        """Fold per-batch signed postings into one batch=base posting
        per (_id, fp) — retractions cancel here."""
        folded = self.postings().select(
            "_id", "fp", F.lit(1).cast("int").alias("sign")
        ).withColumn("batch", F.lit(self.BASE_BATCH))
        folded.write.mode("overwrite").partitionBy("batch").parquet(tmp)
