"""Shared lifecycle for the engine's persisted incremental stores.

Five operators accrete batch-keyed parquet state with the same
contract — RollupStore, SpanStore, BloomStore, WinnowStore, DsirStore
(and IvfIndex in functions/similarity.py) — and before round 9 each
carried its own copy of the machinery. This base owns the lifecycle;
subclasses own only their algebra (what a batch's rows ARE and how
they fold).

The contract, shared verbatim by every store:

- **batch-keyed idempotent ingest**: data lands partitioned by
  ``batch=<id>`` via dynamic-partition-overwrite; the manifest entry is
  written only AFTER the parquet write completes. The manifest is the
  commit point: every read (:meth:`_read`) sees only committed
  batches, so a batch another session is still writing or a crashed
  one left behind is never served, and an uncommitted batch's
  directories are removed when the next batch is written (opening a
  store removes nothing: a reader cannot tell a crashed write from one
  in flight). A replay of a committed (or compacted-away) batch id is
  a no-op.
- **config identity**: parameters that change row meaning (window
  width, bit count, bucket count…) are persisted on first write and a
  reopen with different values raises instead of silently merging
  incompatible state.
- **merge-on-read serving**: subclasses read the whole store and fold
  by their measure's algebra (additive counts/signs, bitwise OR,
  sketch merges).
- **LSM-style compaction**: fold everything into ``batch=base``,
  record absorbed ids (late replays stay no-ops), write the fold into a
  stage beside the store and publish it through the engine's commit
  protocol (``commit.py``). A failed publish is rolled back in process,
  so the store stays serveable; one cut off by a process kill is rolled
  back when the store is next opened.
- **retraction bookkeeping** (stores whose algebra supports negation):
  retracted batch ids are recorded in a sidecar for audit, before the
  manifest commit; only committed ids are listed.

Crash-partial heal, idempotent replay, and compaction identity are
property-tested once for every registered store in
tests/test_batchstore.py.

No counterpart in the reference repo (the reference's state lives in
Postgres tables; this is the parquet-native equivalent of its
idempotent ingest-registry discipline, see reference importdatafiles'
md5-checked file registry).
"""

from __future__ import annotations

import json
import os
import shutil
from urllib.parse import unquote

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_database_spark import commit


class BatchStore:
    COMPACTED_FILE = "_compacted.json"
    COMMITTED_FILE = "_committed.json"
    RETRACTED_FILE = "_retracted.json"
    BASE_BATCH = "base"
    #: subclasses with config identity set this (e.g. "_span_config.json")
    CONFIG_FILE: str | None = None
    #: extra partition columns AFTER "batch" in the main ingest write
    PARTITION_COLS: tuple = ()

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path
        commit.recover(path)  # a compaction cut off before its commit
        #: the batch this object is writing: read back before its commit
        self._writing: str | None = None

    # -- config identity ----------------------------------------------------

    def _config(self) -> dict | None:
        """Subclass: the identity dict persisted on first write, or
        None if the store has no config identity."""
        return None

    def _config_mismatch(self, stored: dict, current: dict) -> str:
        return (
            f"store {self.path} was built with {stored}; reopening with "
            f"{current} would merge incompatible state — pass the original "
            "parameters or rebuild"
        )

    def _check_config(self) -> None:
        """Call at the end of subclass ``__init__`` (after the identity
        attributes are set)."""
        if self.CONFIG_FILE is None:
            return
        stored = self._read_json(self.CONFIG_FILE)
        current = self._config()
        if stored is not None and stored != current:
            raise ValueError(self._config_mismatch(stored, current))

    # -- write path ---------------------------------------------------------

    def _begin_batch(self, batch: str) -> bool:
        """Idempotence guard + first-write bootstrap. Returns False if
        the batch id is reserved or already ingested (live or absorbed
        by a compaction); otherwise ensures the directory, sweeps
        uncommitted batches (a crashed attempt of this one included),
        persists the config identity, and returns True."""
        if batch == self.BASE_BATCH or batch in self.batches():
            return False
        os.makedirs(self.path, exist_ok=True)
        self._sweep()
        self._writing = batch
        if self.CONFIG_FILE is not None and self._read_json(self.CONFIG_FILE) is None:
            self._write_raw(self.CONFIG_FILE, self._config())
        return True

    def _write_batch(self, df: DataFrame, batch: str, retraction: bool = False) -> None:
        """The standard partitioned batch write: tag rows with the
        batch id, dynamic-partition-overwrite, manifest commit only
        after the write."""
        (
            df.withColumn("batch", F.lit(batch))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch", *self.PARTITION_COLS)
            .parquet(self.path)
        )
        self._commit(batch, retraction)

    def retractions(self) -> list[str]:
        """Committed retraction batch ids: a recorded id whose manifest
        commit never happened was swept, so it is not listed."""
        live = set(self.batches())
        return [b for b in self._read_json(self.RETRACTED_FILE) or [] if b in live]

    # -- maintenance --------------------------------------------------------

    def batches(self) -> list[str]:
        """Ingested batch ids: the committed manifest plus batches
        absorbed by a compaction."""
        committed = self._read_json(self.COMMITTED_FILE) or []
        return sorted(set(committed) | set(self._compacted()))

    def _live(self) -> set[str]:
        """Batch ids a read may see: committed, absorbed, ``base``, and
        the batch this object is writing."""
        return set(self.batches()) | {self.BASE_BATCH, self._writing}

    @staticmethod
    def _batch_dirs(root: str) -> dict[str, str]:
        """``{batch id: directory}`` for the ``batch=<id>`` directories
        of one root. Spark escapes some characters of a partition value
        in its directory name (``:`` is written ``%3A``), so the id is
        the unescaped name."""
        if not os.path.isdir(root):
            return {}
        return {unquote(e.split("=", 1)[1]): os.path.join(root, e)
                for e in os.listdir(root) if e.startswith("batch=")}

    def _read(self, subdir: str = "") -> DataFrame:
        """One root of the store (the main rows, or a ``_``-prefixed
        row-kind root) as committed: an uncommitted batch's directories
        are left out of the scan. With none present the root is read
        whole, so the scan is the plain directory read."""
        root = os.path.join(self.path, subdir)
        dirs = self._batch_dirs(root)
        live = self._live()
        if set(dirs) <= live:
            return self.spark.read.parquet(root)
        return self.spark.read.option("basePath", root).parquet(
            *sorted(d for b, d in dirs.items() if b in live))

    def _sweep(self) -> None:
        """Remove every ``batch=<id>`` directory whose id is not
        committed, absorbed or ``base``, and Spark's write debris
        (``_temporary``, ``.spark-staging-*``), from the store root and
        each ``_``-prefixed row-kind root; a row-kind root left empty
        goes too. Runs only on the write path, where one writer holds
        the store: a write cut off before its manifest commit is gone
        before the next batch lands."""
        if not os.path.isdir(self.path):
            return
        keep = set(self.batches()) | {self.BASE_BATCH}
        roots = [self.path] + [
            os.path.join(self.path, d) for d in sorted(os.listdir(self.path))
            if d.startswith("_") and d != "_temporary"
            and os.path.isdir(os.path.join(self.path, d))
        ]
        for root in roots:
            for b, d in self._batch_dirs(root).items():
                if b not in keep:
                    shutil.rmtree(d)
            for entry in os.listdir(root):
                if entry == "_temporary" or entry.startswith(".spark-staging-"):
                    shutil.rmtree(os.path.join(root, entry))
            if root != self.path and not os.listdir(root):
                os.rmdir(root)

    def _compact_fold(self, tmp: str) -> None:
        """Subclass: write the folded ``batch=base`` state into the
        stage directory ``tmp`` (main data plus any sketch subdirs)."""
        raise NotImplementedError

    def compact(self) -> None:
        """Fold every batch into ``batch=base`` (the subclass's
        algebra — retraction negatives cancel here) and record absorbed
        ids so late replays stay no-ops. The fold is written into a
        stage and published in one commit: every ``batch=*`` directory
        and every entry the fold wrote moves out of the store, the
        fold's entries move in. Sidecars and subdirectories the fold
        leaves alone (config, retraction log, stream bindings, raw
        slices) stay where they are."""
        absorbed = sorted(set(self.batches()) | set(self._compacted()))
        with commit.staged(self.path) as stage:
            new, old = os.path.join(stage, "new"), os.path.join(stage, "old")
            self._compact_fold(new)
            commit.write_json(os.path.join(new, self.COMPACTED_FILE),
                              [b for b in absorbed if b != self.BASE_BATCH])
            commit.write_json(os.path.join(new, self.COMMITTED_FILE), [self.BASE_BATCH])
            names = sorted(set(os.listdir(new)) | {
                n for n in os.listdir(self.path) if n.startswith("batch=")})
            moves = [(os.path.join(self.path, n), os.path.join(old, n))
                     for n in names if os.path.lexists(os.path.join(self.path, n))]
            moves += [(os.path.join(new, n), os.path.join(self.path, n))
                      for n in sorted(os.listdir(new))]
            commit.publish(self.path, moves)

    # -- sidecar io ---------------------------------------------------------

    def _read_json(self, name: str):
        p = os.path.join(self.path, name)
        if not os.path.exists(p):
            return None
        with open(p) as fh:
            return json.load(fh)

    def _write_raw(self, name: str, value) -> None:
        commit.write_json(os.path.join(self.path, name), value)

    def _write_json(self, name: str, values: list[str]) -> None:
        self._write_raw(name, sorted(values))

    def _commit(self, batch: str, retraction: bool = False) -> None:
        """Add ``batch`` to the manifest — the commit point. A
        retraction is recorded first, so a kill in between leaves an
        uncommitted (swept, unlisted) batch, never a committed
        retraction missing from the record."""
        if retraction:
            self._write_json(self.RETRACTED_FILE,
                             set(self._read_json(self.RETRACTED_FILE) or []) | {batch})
        committed = self._read_json(self.COMMITTED_FILE) or []
        self._write_json(self.COMMITTED_FILE, set(committed) | {batch})
        self._writing = None

    def _compacted(self) -> list[str]:
        return self._read_json(self.COMPACTED_FILE) or []
