"""Streaming near-duplicate detection against a persisted signature
store.

Near-dup detection cannot use watermark-bounded stream state — a
paraphrase of a document ingested last month is still a near-dup — so
the state here is a *persisted MinHash signature store* (Parquet), not
stream-engine state:

- each micro-batch shingles + signs ONLY its new documents (cost ∝
  batch, never ∝ corpus);
- banded LSH hashes of the batch join the store's band table to find
  candidate (new, stored) pairs — the join touches only colliding
  band buckets, the standard LSH-at-scale shape;
- matches are scored with the signature-agreement estimate (σ ≈
  sqrt(J(1-J)/k)); this stage is deliberately estimate-grade — exact
  shingle verification would require storing shingle sets (state ∝
  corpus text); flagged pairs feed the batch verifier offline
  (functions/dedup.jaccard_verify) if exactness is needed;
- the batch's signatures are then appended to the store, so state
  grows by O(k longs) per unique document — the minimum any
  corpus-lifetime near-dup detector can hold.

All state transitions run inside ``foreachBatch`` with an
AvailableNow trigger: the stream checkpoint makes each file processed
exactly once, and the store append is idempotent per batch.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_database_spark import commit
from etl_database_spark.functions.dedup import (
    band_table as _band_table,  # shared construction — see dedup.band_table
    lsh_candidate_pairs,
    minhash_signatures,
    shingles,
)


def _bind(store_path: str, stream_id: str, kind: str) -> None:
    """Claim the store for one stream identity (or verify the claim
    on restart); refuse reuse by a different checkpoint — its batch ids
    restart at 0 and would collide with stored batches. Shared by every
    persisted-store stream (``kind`` only labels the refusal message).
    The marker is written whole or not at all, so a kill mid-claim
    leaves the store unclaimed, never owned by an empty stream id."""
    marker = os.path.join(store_path, "_stream_id")
    if os.path.exists(marker):
        with open(marker) as fh:
            owner = json.load(fh)
        if owner != stream_id:
            raise ValueError(
                f"{kind} {store_path} belongs to stream {owner}; "
                f"refusing reuse by stream {stream_id} (its batch ids "
                "would overwrite stored batches — use a fresh store path "
                "or keep the original checkpoint)"
            )
        return
    os.makedirs(store_path, exist_ok=True)
    commit.write_json(marker, stream_id)


def _committed(batch_dir: str) -> bool:
    """Whether a batch dir holds at least one written Parquet file."""
    return os.path.isdir(batch_dir) and any(
        f.endswith(".parquet") for f in os.listdir(batch_dir)
    )


class SignatureStore:
    """Parquet-backed MinHash signature store: one row per document,
    wide sig columns. The band table is derived on read (k xxhash64
    calls per row — cheaper than persisting and keeps the store a
    single source of truth).

    Writes are per-batch subdirectories overwritten by batch id, NOT
    plain parquet appends: foreachBatch replays the same batch id
    after a crash-before-checkpoint, and a blind append would
    double-store those signatures (after which every future band join
    against the duplicated rows emits duplicated matches).

    Batch ids are only unique WITHIN one stream checkpoint — a stream
    started with a fresh checkpoint restarts at batch 0, so pointing
    it at an existing store would silently overwrite previously stored
    signatures. The store therefore records the owning stream's query
    id (stable across restarts of the same checkpoint) and ``bind``
    refuses reuse by any other stream: store_path and checkpoint
    lifecycles are coupled by construction, not convention."""

    def __init__(self, spark: SparkSession, path: str, num_perm: int = 32):
        self.spark = spark
        self.path = path
        self.num_perm = num_perm

    def bind(self, stream_id: str) -> None:
        """Claim the store for one stream identity, or verify the
        claim on restart; raise if another stream already owns it."""
        _bind(self.path, stream_id, "signature store")

    def _batch_dirs(self) -> list[str]:
        """Committed batch dirs only: a dir holding no ``.parquet``
        (an empty micro-batch's write leaves just ``_SUCCESS``) is not
        a readable batch."""
        if not os.path.isdir(self.path):
            return []
        dirs = (os.path.join(self.path, d) for d in os.listdir(self.path)
                if d.startswith("batch="))
        return [p for p in dirs if _committed(p)]

    def exists(self) -> bool:
        return bool(self._batch_dirs())

    def read(self, exclude_batch: int | None = None) -> DataFrame | None:
        """All stored signatures; ``exclude_batch`` skips one batch's
        partition — a replayed batch must not cross-join against its
        own first-attempt signatures (they are already in the store
        when the retry runs)."""
        dirs = self._batch_dirs()
        if exclude_batch is not None:
            skip = os.path.join(self.path, f"batch={exclude_batch}")
            dirs = [d for d in dirs if d != skip]
        return self.spark.read.parquet(*dirs) if dirs else None

    def read_batch(self, batch_id: int) -> DataFrame | None:
        """One batch's just-appended partition, read back lineage-free
        (the append already materialized the pipeline — r12, guide §5:
        this replaces a cache+count per micro-batch), or None when the
        write produced no rows (empty micro-batch)."""
        p = os.path.join(self.path, f"batch={batch_id}")
        return self.spark.read.parquet(p) if _committed(p) else None

    def append(self, sigs: DataFrame, batch_id: int = 0) -> None:
        # overwrite-by-batch-id = idempotent under foreachBatch replay
        sigs.write.mode("overwrite").parquet(
            os.path.join(self.path, f"batch={batch_id}")
        )


def process_batch(
    batch_df: DataFrame,
    store: SignatureStore,
    matches_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 5,
    num_perm: int = 32,
    bands: int = 8,
    threshold: float = 0.5,
    batch_id: int = 0,
    max_bucket: int = 200,
) -> None:
    """One micro-batch: sign new docs, LSH-join them against the
    store, write estimate-scored matches, then store the new sigs.

    Within-batch near-dups are found by the same banded self-join the
    batch operator uses (lsh_candidate_pairs), so a duplicate pair
    split across batches and one inside a single batch both surface.
    The cross-batch band join applies the same ``max_bucket`` skew cap
    as the batch operator, measured on the COMBINED (stored + new)
    bucket membership — without it one boilerplate band bucket grows
    quadratically with corpus size across batches.

    Both writes key on ``batch_id`` with overwrite semantics, so a
    foreachBatch replay of the same batch (crash before checkpoint
    commit) reproduces rather than duplicates its output — the
    exactly-once story depends on this, not just the checkpoint.

    Per-batch action budget (r12, guide §5): the signature APPEND is
    the materializing action for the shingle+minhash pass — the batch
    then serves from its own just-written store partition
    (lineage-free read-back) — so a micro-batch costs two driver
    actions (sig append, match write) instead of four (isEmpty probe,
    cache+count, match write, sig append). Appending before pairing
    is replay-safe: the cross-batch read excludes the batch's own
    partition, and both writes overwrite by batch id.
    """
    store.append(
        minhash_signatures(shingles(batch_df, text_col, id_col, n), num_perm),
        batch_id,
    )
    new_sigs = store.read_batch(batch_id)
    if new_sigs is None:
        return

    agree = signature_agreement(num_perm)

    def score(pairs: DataFrame, left: DataFrame, right: DataFrame) -> DataFrame:
        return (
            pairs.join(left.alias("a"), F.col("id_a") == F.col("a._id"))
            .join(right.alias("b"), F.col("id_b") == F.col("b._id"))
            .withColumn("est_jaccard", agree)
            .where(F.col("est_jaccard") >= threshold)
            .select("id_a", "id_b", "est_jaccard")
        )

    # within-batch pairs (banded self-join, skew-capped)
    within = score(
        lsh_candidate_pairs(new_sigs, num_perm, bands), new_sigs, new_sigs
    )

    # cross-batch pairs: batch band table joins the store's band table
    # (minus this batch's own partition — present if this is a replay)
    stored = store.read(exclude_batch=batch_id)
    if stored is not None:
        stored_bands = _band_table(stored, store.num_perm, bands)
        new_bands = _band_table(new_sigs, num_perm, bands)
        combined_ok = (
            stored_bands.select("band_id", "band_hash")
            .unionByName(new_bands.select("band_id", "band_hash"))
            .groupBy("band_id", "band_hash")
            .agg(F.count("*").alias("bucket_n"))
            .where(F.col("bucket_n") <= max_bucket)
            .select("band_id", "band_hash")
        )
        cross_pairs = (
            stored_bands.join(combined_ok, ["band_id", "band_hash"], "left_semi")
            .join(new_bands.alias("n"), ["band_id", "band_hash"])
            .where(stored_bands["_id"] != F.col("n._id"))
            .select(
                stored_bands["_id"].alias("id_a"), F.col("n._id").alias("id_b")
            )
            .distinct()
        )
        cross = score(cross_pairs, stored, new_sigs)
        within = within.unionByName(cross)

    within.write.mode("overwrite").parquet(
        os.path.join(matches_path, f"batch={batch_id}")
    )


def signature_agreement(num_perm: int):
    """The streaming scorer's estimate: fraction of agreeing minhash
    components between frames aliased 'a' and 'b' (σ ≈ sqrt(J(1-J)/k))."""
    return sum(
        (F.col(f"a.sig_{i}") == F.col(f"b.sig_{i}")).cast("int")
        for i in range(num_perm)
    ) / F.lit(num_perm)


def batch_estimate_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 5,
    num_perm: int = 32,
    bands: int = 8,
    threshold: float = 0.5,
    max_bucket: int = 200,
) -> DataFrame:
    """The batch twin of the streaming pipeline: sign the WHOLE corpus
    at once, banded-LSH self-join, score with the same
    signature-agreement estimate. Streaming over a batch split
    reproduces exactly this pair set (within-batch pairs via the batch
    self-join, cross-batch pairs via the signature store) — the
    equivalence the registry query and tests assert — PROVIDED no band
    bucket straddles the ``max_bucket`` skew cap across deliveries: a
    bucket that is under the cap within an early batch but over it
    globally has already emitted pairs a batch run would drop, and a
    streaming system cannot retract them. The cap is a skew guard,
    not a semantic filter; both tiers drop only exact-dup-grade
    boilerplate buckets that the exact dedup pass catches."""
    sigs = minhash_signatures(shingles(docs, text_col, id_col, n), num_perm)
    return (
        lsh_candidate_pairs(sigs, num_perm, bands, max_bucket)
        .join(sigs.alias("a"), F.col("id_a") == F.col("a._id"))
        .join(sigs.alias("b"), F.col("id_b") == F.col("b._id"))
        .withColumn("est_jaccard", signature_agreement(num_perm))
        .where(F.col("est_jaccard") >= threshold)
        .select("id_a", "id_b", "est_jaccard")
    )


def _checkpoint_stream_id(checkpoint: str) -> str:
    """The query id Spark persists in <checkpoint>/metadata — stable
    across restarts of the same checkpoint, fresh for a new one."""
    path = checkpoint[len("file:") :] if checkpoint.startswith("file:") else checkpoint
    with open(os.path.join(path, "metadata")) as f:
        return str(json.load(f)["id"])


def run_near_dup_once(
    spark: SparkSession,
    stream: DataFrame,
    store_path: str,
    matches_path: str,
    checkpoint: str,
    **kwargs,
) -> None:
    """AvailableNow driver: drain the source through the near-dup
    batch handler; the checkpoint guarantees each input file is signed
    and matched exactly once across restarts, and the store is bound
    to this checkpoint's stream identity before any batch writes."""
    store = SignatureStore(spark, store_path, kwargs.get("num_perm", 32))

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        # The metadata file exists once the query has started, which
        # is always before the first foreachBatch call.
        store.bind(_checkpoint_stream_id(checkpoint))
        process_batch(batch_df, store, matches_path, batch_id=batch_id, **kwargs)

    (
        stream.writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
