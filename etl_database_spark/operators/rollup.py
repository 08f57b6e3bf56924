"""Incrementally maintained aggregate rollups (hypertable-style).

The reference recomputes its report aggregates from the full base
table every run (xnlou/etl-database `storedprocs.sql` report procs
re-scan `tblhistorical*` each call). That is exactly what cannot work
at 100 TB: a day of new events must cost a day's aggregation, not a
full-corpus re-scan. ``RollupStore`` maintains a day-grain aggregate
as *mergeable partials* with the same LSM-ish lifecycle as the other
persisted stores in this engine (IvfIndex, the minhash signature
store, the streaming embedding store):

- :meth:`ingest` aggregates ONE batch of new events down to
  (day, event_type) partials — count / decimal-exact sum / min / max,
  all algebraic, so partials merge associatively — and writes them
  partitioned by ``(batch, day)`` with dynamic-partition-overwrite.
  Replaying a committed batch id (pipeline retry, restarted job) is a
  no-op; the manifest is the commit point.
- :meth:`serve` merges partials on read: a groupBy over the rollup
  store, whose cardinality is days x event types x batches — millions
  of times smaller than the raw events it summarizes.
- :meth:`compact` folds accumulated per-batch partials into one
  ``batch=base`` layout (bounding the merge-on-read fan-in) and
  remembers absorbed batch ids so late replays stay no-ops.

Aggregates chosen are the mergeable set: COUNT and SUM merge by SUM,
MIN/MAX by MIN/MAX. AVG is served as exact-sum / count. Non-algebraic
aggregates (exact percentiles, COUNT DISTINCT) are out of scope by
design — at scale those go through sketches, not rollups.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_database_spark import commit
from etl_database_spark.operators.batchstore import BatchStore

# Partial sums are stored at a FIXED wide decimal so every batch file
# carries the identical parquet type (Spark widens sum() output
# precision; without the pin, base and delta files would disagree and
# the unified read would need mergeSchema or fail).
STORE_DEC = "decimal(38,6)"


class RollupStore(BatchStore):
    """Persisted (batch, day)-partitioned partial aggregates over an
    event stream, keyed by (day, event_type). Lifecycle (idempotent
    batch ingest, manifest, compaction swap) comes from
    :class:`~etl_database_spark.operators.batchstore.BatchStore`; this
    class owns the measure algebra and the sketch subdirs."""

    RECOMPUTED_FILE = "_recomputed.json"
    PARTITION_COLS = ("day",)
    # Sketch partials live under underscore-prefixed subdirs: Spark's
    # file index treats _-prefixed paths as hidden, so the main
    # partials read never sees them, while reading a subdir directly
    # works as its own parquet root.
    HLL_SUBDIR = "_hll"
    QHIST_SUBDIR = "_qhist"
    TDIGEST_SUBDIR = "_tdigest"
    RAW_SUBDIR = "_raw"
    # the raw slice is NOT folded — per-batch raw partitions are what
    # retract_batch subtracts by; compaction leaves them in place

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        distinct_col: str | None = None,
        quantile_spec: tuple | None = None,
        tdigest_col: str | None = None,
        keep_raw: bool = False,
    ):
        """``distinct_col``: optionally maintain an HLL sketch of this
        column per (day, event_type) alongside the additive measures,
        so the same store also serves approximate distinct counts
        (e.g. daily unique users) — the one aggregate COUNT/SUM
        partials cannot express.

        ``quantile_spec``: optional ``(value_col, lo, hi, buckets)`` —
        maintain fixed-bound histogram counters per (day, event_type)
        so the store also serves quantiles (serve_quantiles). The
        counters are additive, so unlike exact percentiles they
        survive incremental ingest, retraction (negated counters), and
        compaction; the bucket arithmetic is deterministic, so the
        served quantiles stay DuckDB-oracle-checkable.

        ``tdigest_col``: optionally maintain t-digest centroids of
        this column per (day, event_type) — quantiles with NO domain
        bounds (the constraint quantile_spec carries), tail-accurate,
        merged centroid-algebraically on read and in compaction.
        Insert-only like the HLL sketch: centroid weights cannot be
        negated (the merge's rank positioning breaks), so retraction
        does not touch the digest and wrong-data retractions leave
        ghosts until a rebuild. Rows-only verification (libm asin);
        accuracy property-tested in tests/test_tdigest.py.

        ``keep_raw``: retain each batch's raw measure columns under
        ``_raw/(batch, day)``. Enables :meth:`retract_batch` — EXACT
        retraction of the non-additive measures (min/max, t-digest,
        HLL) by recomputing only the affected day partitions from the
        remaining raw, so "a (bad) day costs a day", never a rebuild.
        The self-contained variant for the local store; at 100 TB the
        raw slice is the data lake itself — point the recompute at the
        day-partitioned event table instead of duplicating it here."""
        super().__init__(spark, path)
        self.distinct_col = distinct_col
        self.quantile_spec = quantile_spec
        self.tdigest_col = tdigest_col
        self.keep_raw = keep_raw

    # -- write path -------------------------------------------------------

    @staticmethod
    def _partials(events: DataFrame, ts_col: str = "ts") -> DataFrame:
        """One batch of raw events → mergeable per-(day, type) partials.
        This is the map-side-combine shape: the shuffle carries one row
        per (day, type), never raw events."""
        return RollupStore._partials_from_day(
            events.withColumn("day", F.to_date(ts_col))
        )

    @staticmethod
    def _partials_from_day(ev_day: DataFrame) -> DataFrame:
        return (
            ev_day
            .groupBy("day", "event_type")
            .agg(
                F.count("*").cast("long").alias("n_events"),
                # decimal accumulate: partial sums merge exactly (see
                # queries/relational.py module doc on the pattern)
                F.sum(F.col("value").cast("decimal(18,6)")).cast(STORE_DEC).alias("sum_value"),
                F.min("value").alias("min_value"),
                F.max("value").alias("max_value"),
            )
        )

    def ingest(self, events: DataFrame, batch: str, ts_col: str = "ts") -> bool:
        """Aggregate one event batch into the store. Returns False if
        this batch id was already COMMITTED (manifest entry, written
        only after a complete write, or absorbed by a compaction) —
        replays are no-ops. The manifest is the commit point: an
        uncommitted batch's directories are never read, and the next
        batch write removes them, so the directory alone never counts
        as ingested."""
        if not self._begin_batch(batch):
            return False
        ev_day = events.withColumn("day", F.to_date(ts_col))
        self._write_all_partials(ev_day, batch, self.path)
        if self.keep_raw:
            raw = ev_day.select(*self._raw_cols()).withColumn("batch", F.lit(batch))
            (
                raw.write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("batch", "day")
                .parquet(os.path.join(self.path, self.RAW_SUBDIR))
            )
        self._commit(batch)
        return True

    def _raw_cols(self) -> list[str]:
        """Measure columns the recompute path needs — day, the group
        key, and every configured value column (deduplicated)."""
        cols = ["day", "event_type", "value"]
        for c in (
            self.distinct_col,
            self.quantile_spec[0] if self.quantile_spec else None,
            self.tdigest_col,
        ):
            if c is not None and c not in cols:
                cols.append(c)
        return cols

    def _write_all_partials(self, ev_day: DataFrame, batch: str, root: str) -> None:
        """Write one batch label's measure + sketch partials from an
        event frame that already carries ``day``, under ``root`` (the
        store, or a stage laid out like it). Shared by ingest and the
        day-recompute retraction — the ONE construction of store rows,
        so the two paths can never drift."""
        partials = self._partials_from_day(ev_day).withColumn("batch", F.lit(batch))
        (
            partials.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch", "day")
            .parquet(root)
        )
        if self.distinct_col is not None:
            from etl_database_spark.functions.hll import hll_partials

            sketch = hll_partials(
                ev_day, self.distinct_col, ["day", "event_type"]
            ).withColumn("batch", F.lit(batch))
            (
                sketch.write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("batch", "day")
                .parquet(os.path.join(root, self.HLL_SUBDIR))
            )
        self._write_qhist(ev_day, batch, sign=1, root=root)
        if self.tdigest_col is not None:
            from etl_database_spark.functions.tdigest import tdigest_partials

            cents = tdigest_partials(
                ev_day, self.tdigest_col, ["day", "event_type"]
            ).withColumn("batch", F.lit(batch))
            (
                cents.write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("batch", "day")
                .parquet(os.path.join(root, self.TDIGEST_SUBDIR))
            )

    def _write_qhist(self, ev_day: DataFrame, batch: str, sign: int, root: str) -> None:
        if self.quantile_spec is None:
            return
        from etl_database_spark.functions.histogram import histogram_partials

        value_col, lo, hi, buckets = self.quantile_spec
        hist = histogram_partials(
            ev_day,
            value_col,
            lo,
            hi,
            group_cols=["day", "event_type"],
            buckets=buckets,
        )
        hist = hist.select(
            "day",
            "event_type",
            "bucket",
            (F.lit(sign) * F.col("cnt")).cast("long").alias("cnt"),
        ).withColumn("batch", F.lit(batch))
        (
            hist.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch", "day")
            .parquet(os.path.join(root, self.QHIST_SUBDIR))
        )

    def retract(self, events: DataFrame, batch: str, ts_col: str = "ts") -> bool:
        """Remove a previously delivered batch's contribution from the
        ADDITIVE measures by ingesting negated partials (late
        corrections: a duplicated delivery, a bad upstream day). Same
        idempotence contract as ingest — ``batch`` must be a NEW id
        (e.g. "b7_retraction"), replays are no-ops.

        What retraction can and cannot fix, by algebra:

        - counts and sums are groups (every element has an inverse):
          exactly retractable;
        - MIN/MAX are not — a retracted row's extremum cannot be
          un-taken without the raw data. Once any retraction exists,
          ``serve`` excludes the extrema columns (or raises if they
          are explicitly requested) rather than serving stale values;
        - the HLL distinct sketch is insert-only: retraction does not
          write sketch rows, so distinct estimates keep counting
          retracted keys (harmless for duplicate-delivery retractions
          — duplicates never inflated the sketch — but wrong-data
          retractions leave ghosts until a rebuild).
        """
        if not self._begin_batch(batch):
            return False
        neg = (
            self._partials(events, ts_col)
            .select(
                "day",
                "event_type",
                (-F.col("n_events")).cast("long").alias("n_events"),
                (-F.col("sum_value")).cast(STORE_DEC).alias("sum_value"),
                F.lit(None).cast("double").alias("min_value"),
                F.lit(None).cast("double").alias("max_value"),
            )
            .withColumn("batch", F.lit(batch))
        )
        (
            neg.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch", "day")
            .parquet(self.path)
        )
        # histogram counters are additive → exactly retractable (unlike
        # MIN/MAX): write the negated counters so served quantiles stay
        # correct after the retraction
        self._write_qhist(
            events.withColumn("day", F.to_date(ts_col)), batch, sign=-1, root=self.path
        )
        self._commit(batch, retraction=True)
        return True

    def recomputations(self) -> list[str]:
        """Batch ids exactly retracted via :meth:`retract_batch`
        (audit trail; unlike :meth:`retractions` these leave every
        measure exact, so they do not gate extrema serving)."""
        return self._read_json(self.RECOMPUTED_FILE) or []

    def retract_batch(self, batch: str) -> list[str]:
        """EXACT retraction of a fully ingested batch — the
        day-recompute path for the non-additive measures that negation
        (:meth:`retract`) cannot fix: min/max, the t-digest centroids,
        and the HLL registers.

        Requires ``keep_raw=True``. Every day partition the batch
        touched is rebuilt from the retained raw slice minus the
        batch: one fresh ``base`` partial per affected day is written
        into a stage through the same ``_write_all_partials``
        construction ingest uses, then one ``commit.publish`` replaces
        the old (batch, day) partials across the measure store and
        every sketch subdir with it and drops the batch's raw slice —
        all or nothing. Afterward
        ``serve``/``serve_distinct``/``serve_quantiles*`` are exact
        again — "a bad day costs a day", never a store rebuild.

        Refuses when negation retractions exist: those removed
        contributions whose raw rows are still in the slice, so a raw
        recompute would silently resurrect them — the two modes don't
        compose; pick one per store lifetime (or rebuild).

        Returns the affected day strings."""
        if not self.keep_raw:
            raise ValueError(
                f"rollup store {self.path} was not built with "
                "keep_raw=True — no raw slice to recompute from; use "
                "retract() for additive measures or rebuild the store"
            )
        if batch == self.BASE_BATCH or batch not in self.batches():
            raise ValueError(
                f"batch {batch!r} is not an ingested batch of {self.path}"
            )
        if self.retractions():
            raise ValueError(
                f"rollup store {self.path} has negation retractions "
                f"{self.retractions()} — their raw rows are still in "
                "the slice, so a day recompute would resurrect the "
                "retracted contributions; rebuild the store instead"
            )
        raw = self._read(self.RAW_SUBDIR)
        days = [
            r.day
            for r in raw.where(F.col("batch") == batch).select("day").distinct().collect()
        ]
        day_dirs = {f"day={d}" for d in days}

        def day_parts(top: str) -> list[str]:
            # the (batch, day) directories of the affected days in every
            # measure and sketch root under ``top``
            return [
                os.path.join(sub, b, d)
                for sub in ("", self.HLL_SUBDIR, self.QHIST_SUBDIR, self.TDIGEST_SUBDIR)
                if os.path.isdir(os.path.join(top, sub))
                for b in sorted(os.listdir(os.path.join(top, sub)))
                if b.startswith("batch=")
                for d in sorted(os.listdir(os.path.join(top, sub, b)))
                if d in day_dirs
            ]

        # One publish swaps every affected day partition for its
        # recompute, drops the batch's raw slice and records the
        # recomputation; a kill anywhere leaves the store before or after.
        with commit.staged(self.path) as stage:
            new, old = os.path.join(stage, "new"), os.path.join(stage, "old")
            if days:
                # materialized once: up to four partial writes read it
                survivors = (
                    raw.where(F.col("day").isin(days) & (F.col("batch") != batch))
                    .drop("batch")
                    .localCheckpoint(eager=True)
                )
                self._write_all_partials(survivors, self.BASE_BATCH, new)
            os.makedirs(new, exist_ok=True)
            # the batch stays in the committed manifest: a late replay of
            # ingest(events, batch) must remain a no-op, not re-add the
            # retracted contribution
            commit.write_json(os.path.join(new, self.RECOMPUTED_FILE),
                              sorted(set(self.recomputations()) | {batch}))
            raw_dir = self._batch_dirs(os.path.join(self.path, self.RAW_SUBDIR)).get(batch)
            out = day_parts(self.path) + [
                os.path.relpath(p, self.path)
                for p in (raw_dir, os.path.join(self.path, self.RECOMPUTED_FILE))
                if p is not None and os.path.lexists(p)
            ]
            moves = [(os.path.join(self.path, p), os.path.join(old, p)) for p in out]
            moves += [(os.path.join(new, p), os.path.join(self.path, p))
                      for p in day_parts(new) + [self.RECOMPUTED_FILE]]
            commit.publish(self.path, moves)
        return sorted(str(d) for d in days)

    # -- read path --------------------------------------------------------

    def partials(self) -> DataFrame:
        return self._read()

    def serve(
        self, days: list | None = None, include_extrema: bool | None = None
    ) -> DataFrame:
        """Merge partials into the final (day, event_type) aggregate.
        ``days`` prunes the scan to those day partitions (the common
        dashboard access path).

        ``include_extrema``: MIN/MAX are not retractable, so once any
        retraction batch exists their stored values may be stale. The
        default (None) includes them only while the store has no
        retractions; passing True with retractions present raises
        instead of serving possibly-wrong extrema."""
        has_retractions = bool(self.retractions())
        if include_extrema is True and has_retractions:
            raise ValueError(
                f"rollup store {self.path} has retractions "
                f"{self.retractions()}: MIN/MAX cannot be retracted and "
                "may be stale — serve additive measures only, or "
                "rebuild the store from raw data"
            )
        extrema = (
            include_extrema if include_extrema is not None else not has_retractions
        )
        df = self.partials()
        if days is not None:
            df = df.where(F.col("day").isin(days))
        agg = (
            df.groupBy("day", "event_type")
            .agg(
                F.sum("n_events").cast("long").alias("n_events"),
                F.sum("sum_value").alias("sum_dec"),
                F.min("min_value").alias("min_value"),
                F.max("max_value").alias("max_value"),
            )
            # a group whose every contribution was retracted cancels to
            # count 0 — it has no live rows and must not be served (and
            # its avg would divide by zero)
            .where(F.col("n_events") > 0)
        )
        cols = [
            F.col("day"),
            F.col("event_type"),
            F.col("n_events"),
            F.col("sum_dec").cast("double").alias("sum_value"),
            # exact-decimal sum → double, THEN an IEEE double divide:
            # bit-identical across engines (repo-wide avg convention)
            (F.col("sum_dec").cast("double") / F.col("n_events")).alias("avg_value"),
        ]
        if extrema:
            cols += [F.col("min_value"), F.col("max_value")]
        return agg.select(*cols).orderBy("day", "event_type")

    def serve_distinct(self, days: list | None = None) -> DataFrame:
        """Approximate distinct ``distinct_col`` values per
        (day, event_type) from the stored HLL sketch rows: max-merge
        registers across batches, then estimate. Sketch-sized work —
        never re-scans events."""
        from etl_database_spark.functions.hll import hll_estimate

        hll_path = os.path.join(self.path, self.HLL_SUBDIR)
        if not os.path.isdir(hll_path):
            raise ValueError(
                f"rollup store {self.path} has no HLL sketch — construct "
                "RollupStore(..., distinct_col=...) before ingesting"
            )
        df = self._read(self.HLL_SUBDIR)
        if days is not None:
            df = df.where(F.col("day").isin(days))
        merged = df.groupBy("day", "event_type", "ridx").agg(
            F.max("max_rho").alias("max_rho")
        )
        return hll_estimate(merged, ["day", "event_type"])

    def serve_quantiles(self, qs: list[float], days: list | None = None) -> DataFrame:
        """Quantiles of the configured value column per
        (day, event_type) from the stored histogram counters: SUM-merge
        across batches (retraction negatives fold away), then the
        standard cumulative interpolation. Counter-sized work, exactly
        incremental, and — because the bucket arithmetic is
        deterministic — still oracle-checkable."""
        from etl_database_spark.functions.histogram import histogram_quantiles

        if self.quantile_spec is None:
            raise ValueError(
                f"rollup store {self.path} has no histogram counters — "
                "construct RollupStore(..., quantile_spec=(col, lo, hi, "
                "buckets)) before ingesting"
            )
        _, lo, hi, buckets = self.quantile_spec
        df = self._read(self.QHIST_SUBDIR)
        if days is not None:
            df = df.where(F.col("day").isin(days))
        merged = (
            df.groupBy("day", "event_type", "bucket")
            .agg(F.sum("cnt").alias("cnt"))
            .where(F.col("cnt") > 0)
        )
        return histogram_quantiles(
            merged, qs, lo, hi, group_cols=["day", "event_type"], buckets=buckets
        )

    def serve_quantiles_tdigest(
        self, qs: list[float], days: list | None = None
    ) -> DataFrame:
        """Quantiles of the configured t-digest column per
        (day, event_type) from stored centroids: centroid-algebra merge
        across batches, then interpolation — no domain bounds, tails
        tight by the scale function. Centroid-sized work."""
        from etl_database_spark.functions.tdigest import (
            tdigest_merge,
            tdigest_quantiles,
        )

        if self.tdigest_col is None:
            raise ValueError(
                f"rollup store {self.path} has no t-digest centroids — "
                "construct RollupStore(..., tdigest_col=...) before ingesting"
            )
        df = self._read(self.TDIGEST_SUBDIR)
        if days is not None:
            df = df.where(F.col("day").isin(days))
        merged = tdigest_merge(
            df.select("day", "event_type", "sum_val", "weight"),
            ["day", "event_type"],
        )
        return tdigest_quantiles(merged, qs, ["day", "event_type"])

    # -- maintenance ------------------------------------------------------

    def _compact_fold(self, tmp: str) -> None:
        """Fold all per-batch partials into one ``batch=base`` row per
        (day, event_type), bounding merge-on-read fan-in — plus every
        configured sketch subdir, each folded by its own merge algebra.
        The raw slice (retract_batch's recompute source) is left in
        place."""
        folded = (
            self.partials()
            .groupBy("day", "event_type")
            .agg(
                F.sum("n_events").cast("long").alias("n_events"),
                F.sum("sum_value").cast(STORE_DEC).alias("sum_value"),
                F.min("min_value").alias("min_value"),
                F.max("max_value").alias("max_value"),
            )
            .withColumn("batch", F.lit(self.BASE_BATCH))
        )
        folded.write.mode("overwrite").partitionBy("batch", "day").parquet(tmp)
        hll_path = os.path.join(self.path, self.HLL_SUBDIR)
        if os.path.isdir(hll_path):
            # fold the sketch too: registers max-merge per key
            folded_hll = (
                self._read(self.HLL_SUBDIR)
                .groupBy("day", "event_type", "ridx")
                .agg(F.max("max_rho").alias("max_rho"))
                .withColumn("batch", F.lit(self.BASE_BATCH))
            )
            folded_hll.write.mode("overwrite").partitionBy("batch", "day").parquet(
                os.path.join(tmp, self.HLL_SUBDIR)
            )
        td_path = os.path.join(self.path, self.TDIGEST_SUBDIR)
        if os.path.isdir(td_path):
            # fold the digest: centroid-algebra merge per (day, type) —
            # the same operation serving performs, done once
            from etl_database_spark.functions.tdigest import tdigest_merge

            folded_td = tdigest_merge(
                self._read(self.TDIGEST_SUBDIR).select(
                    "day", "event_type", "sum_val", "weight"
                ),
                ["day", "event_type"],
            ).withColumn("batch", F.lit(self.BASE_BATCH))
            folded_td.write.mode("overwrite").partitionBy("batch", "day").parquet(
                os.path.join(tmp, self.TDIGEST_SUBDIR)
            )
        qh_path = os.path.join(self.path, self.QHIST_SUBDIR)
        if os.path.isdir(qh_path):
            # histogram counters fold by SUM; retraction negatives
            # cancel out here, so the compacted base is all-positive
            folded_qh = (
                self._read(self.QHIST_SUBDIR)
                .groupBy("day", "event_type", "bucket")
                .agg(F.sum("cnt").alias("cnt"))
                .where(F.col("cnt") != 0)
                .withColumn("batch", F.lit(self.BASE_BATCH))
            )
            folded_qh.write.mode("overwrite").partitionBy("batch", "day").parquet(
                os.path.join(tmp, self.QHIST_SUBDIR)
            )

