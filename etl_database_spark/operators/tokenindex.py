"""Persisted incremental token index with tf — BM25 retrieval serving.

The phrase index (operators/phraseindex.py) answers membership; this
store carries TERM FREQUENCIES and document lengths, which is exactly
the state BM25 needs — so ranked retrieval over a 100 TB corpus is
served from the index (posting-list joins on the query's terms) and
the corpus text is never re-tokenized per query. This is the
search-engine serving split (index build amortized over ingest,
queries touch |Q| posting lists; Zobel & Moffat, ACM CS 2006) in the
engine's batch lifecycle
(:class:`~etl_database_spark.operators.batchstore.BatchStore`):

- tf postings ``(tok, _id, tf, sign)`` in the store root and document
  lengths ``(_id, dl, sign)`` under ``_doclens`` — both signed and
  additive, so serving is *identical* to a full-corpus recompute
  under any batch split, and :meth:`retract` removes a batch exactly
  (tf and dl negate; a document's presence folds to sign-sum 0);
- the tokenization is the ONE rule bm25.tokenize_docs uses
  (lowercase, whitespace split, drop empties) — persisted as config
  identity so index generations can never mix tokenizers;
- :meth:`bm25_serve` feeds the stored tf/dl and the two corpus
  scalars through :func:`~etl_database_spark.functions.bm25
  .bm25_from_stats` — the SAME scoring code path as the one-shot
  pipeline, so the registered ``bm25_index_scores`` row reuses
  ``doc_bm25_scores``'s DuckDB oracle verbatim: a green hash proves
  index-served retrieval equals a corpus recompute.

Cost model at scale: ingest = one tokenize pass over the new batch
(tf is a batch-local aggregate) + one partitioned write; a query
scores |Q| posting lists and one broadcast idf — never a text scan.

No counterpart in the reference repo (training-data extension).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_database_spark.functions import bm25 as B
from etl_database_spark.operators.batchstore import BatchStore


class TokenIndexStore(BatchStore):
    CONFIG_FILE = "_tokenindex_config.json"
    DOCLEN_SUBDIR = "_doclens"

    def __init__(self, spark: SparkSession, path: str):
        super().__init__(spark, path)
        self._check_config()
        # Frames persisted by the PREVIOUS bm25_serve call, released on
        # the next serve (r11 advice: per-call eager localCheckpoints
        # with no unpersist leaked executor storage on every serve).
        self._serve_frames: list[DataFrame] = []

    def _config(self) -> dict:
        # the tokenizer rule is the store identity: an index built
        # with a different tokenization must never merge
        return {"tokenizer": "lower_ws_v1"}

    # -- write path -------------------------------------------------------

    def ingest(
        self, docs: DataFrame, batch: str, text_col: str = "text", id_col: str = "doc_id"
    ) -> bool:
        """Add one document batch: one tokenize pass feeding both the
        tf postings and the doc-length rows. Idempotent per batch id;
        crash partials in either root are never read and are swept by
        the next batch write."""
        return self._write_signed(docs, batch, text_col, id_col, sign=1)

    def retract(
        self, docs: DataFrame, batch: str, text_col: str = "text", id_col: str = "doc_id"
    ) -> bool:
        """Remove a previously ingested batch exactly (negated tf and
        dl under a NEW batch id). Must be called with exactly the
        documents of a previously ingested batch — see WinnowStore's
        docstring for the signed-residue failure mode."""
        return self._write_signed(docs, batch, text_col, id_col, sign=-1)

    def _write_signed(
        self, docs: DataFrame, batch: str, text_col: str, id_col: str, sign: int
    ) -> bool:
        if not self._begin_batch(batch):
            return False
        toks = B.tokenize_docs(docs, text_col=text_col, id_col=id_col)
        dl = toks.select(
            "_id",
            F.size("_toks").alias("dl"),
            F.lit(sign).cast("int").alias("sign"),
        )
        (
            dl.withColumn("batch", F.lit(batch))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch")
            .parquet(os.path.join(self.path, self.DOCLEN_SUBDIR))
        )
        tf = (
            toks.select("_id", F.explode("_toks").alias("tok"))
            .groupBy("tok", "_id")
            .agg(F.count("*").alias("tf"))
            .select("tok", "_id", "tf", F.lit(sign).cast("int").alias("sign"))
        )
        self._write_batch(tf, batch, retraction=sign < 0)
        return True

    # -- read path --------------------------------------------------------

    def postings(self, toks: list[str] | None = None) -> DataFrame:
        """Merged tf postings (tok, _id, tf): SUM of signed tf across
        batches, retraction negatives folded away. ``toks`` pushes an
        IN-filter BELOW the sign-fold, into the parquet scan — a query
        then folds only its |Q| posting lists, never the whole index
        (the signed-sum algebra commutes with per-key filtering)."""
        raw = self._read()
        if toks is not None:
            raw = raw.where(F.col("tok").isin(list(toks)))
        return (
            raw.groupBy("tok", "_id")
            .agg(F.sum(F.col("sign") * F.col("tf")).alias("tf"))
            .where(F.col("tf") > 0)
            .select("tok", "_id", "tf")
        )

    def doclens(self) -> DataFrame:
        """Merged document lengths (_id, dl): presence = sign-sum > 0
        (so a zero-token document still counts toward N), dl = signed
        sum."""
        return (
            self._read(self.DOCLEN_SUBDIR)
            .groupBy("_id")
            .agg(
                F.sum("sign").alias("_present"),
                F.sum(F.col("sign") * F.col("dl")).alias("dl"),
            )
            .where(F.col("_present") > 0)
            .select("_id", "dl")
        )

    def top_terms(self, n: int) -> list[str]:
        """The corpus's ``n`` most frequent tokens by total tf (ties
        by token string) — equals the one-shot discovery rule over
        exploded token arrays."""
        return [
            r.tok
            for r in self.postings()
            .groupBy("tok")
            .agg(F.sum("tf").alias("c"))
            .orderBy(F.desc("c"), "tok")
            .limit(n)
            .collect()
        ]

    def bm25_serve(
        self,
        query_terms: list[str],
        k1: float = B.BM25_K1,
        b: float = B.BM25_B,
    ) -> DataFrame:
        """(_id, bm25_dec) from stored state only: filter the postings
        to the query's terms, read dl and the two corpus scalars from
        ``_doclens``, and run the ONE shared scoring tail
        (bm25.bm25_from_stats).

        Both store reads are materialized ONCE: ``dl`` feeds the
        scalar agg here AND the scoring join, ``tf`` feeds the df
        aggregate AND the scoring join inside bm25_from_stats — each
        consumer would otherwise re-run the parquet scan + sign-fold
        groupBy (r11: 2 doclen folds + 2 posting folds per serve → 1
        each). r12 (advice): the shared frames are lazy ``persist()``
        — the scalar agg materializes dl's cache, the caller's own
        action materializes tf's on first touch and the second
        consumer reads cached blocks — instead of per-call eager
        localCheckpoints that were never released (leaked executor
        storage per serve; dl is corpus-row-count-sized) and, being
        lineage-cut, could not recompute after an executor loss. The
        previous serve's frames are unpersisted here, so a long-lived
        store instance holds at most one serve's cache."""
        for f in self._serve_frames:
            f.unpersist()
        dl = self.doclens().persist()
        stats = dl.agg(F.count("*").alias("n"), F.sum("dl").alias("t")).first()
        n_docs, total_toks = int(stats["n"]), int(stats["t"] or 0)
        tf = self.postings(toks=list(query_terms)).persist()
        self._serve_frames = [dl, tf]
        return B.bm25_from_stats(tf, dl, n_docs, total_toks, k1=k1, b=b)

    # -- maintenance ------------------------------------------------------

    def _compact_fold(self, tmp: str) -> None:
        """Fold both row kinds to ``batch=base`` with sign 1 —
        retraction negatives cancel here."""
        folded_tf = self.postings().select(
            "tok", "_id", "tf", F.lit(1).cast("int").alias("sign")
        ).withColumn("batch", F.lit(self.BASE_BATCH))
        folded_tf.write.mode("overwrite").partitionBy("batch").parquet(tmp)
        folded_dl = self.doclens().select(
            "_id", "dl", F.lit(1).cast("int").alias("sign")
        ).withColumn("batch", F.lit(self.BASE_BATCH))
        folded_dl.write.mode("overwrite").partitionBy("batch").parquet(
            os.path.join(tmp, self.DOCLEN_SUBDIR)
        )
