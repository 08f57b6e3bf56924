"""Shared BatchStore lifecycle properties, instantiated for every
persisted store in the family (SpanStore, WinnowStore, BloomStore,
DsirStore, RollupStore, IvfIndex, EdgeStore, PhraseIndexStore,
TokenIndexStore): idempotent replay; the manifest is the commit point,
so an uncommitted batch's directories are never read and are removed
when the next batch is written, while a reader opening the store
mid-write removes nothing; compaction identity + absorbed-id replay,
config identity, retraction bookkeeping and swap-failure recovery. Store-specific algebra (equivalence to the
one-shot operators, retraction exactness) stays in each store's own
test module; THESE tests pin the lifecycle contract once."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from etl_database_spark.operators.batchstore import BatchStore
from etl_database_spark.operators.bloomstore import BloomStore
from etl_database_spark.operators.dsirstore import DsirStore
from etl_database_spark.operators.rollup import RollupStore
from etl_database_spark.operators.spanstore import SpanStore
from etl_database_spark.operators.winnowstore import WinnowStore


def _docs(spark, lo, hi):
    rows = [(i, f"alpha beta gamma delta epsilon zeta token{i} eta theta iota") for i in range(lo, hi)]
    return spark.createDataFrame(rows, "doc_id long, text string")


def _events(spark, lo, hi):
    rows = [
        (i, f"2024-01-{(i % 27) + 1:02d} 10:00:00", "purchase" if i % 2 else "click", float(i))
        for i in range(lo, hi)
    ]
    return spark.createDataFrame(rows, "event_id long, ts string, event_type string, value double").withColumn(
        "ts", F.to_timestamp("ts")
    )


def _vecs(spark, lo, hi):
    rows = [(i, [float(i % 7), float(i % 5), float(i % 3)]) for i in range(lo, hi)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


class Harness:
    """Store-kind adapter: build, ingest a numbered batch, and read
    the served state back as comparable sorted rows."""

    name: str

    def make(self, spark, path):
        raise NotImplementedError

    def batch_df(self, spark, i):
        raise NotImplementedError

    def ingest(self, store, df, batch):
        raise NotImplementedError

    def state(self, store):
        raise NotImplementedError

    def reopen(self, spark, path):
        """A fresh object on an existing store."""
        return self.make(spark, path)

    def reopen_mismatched(self, spark, path):
        """Reopen with different config identity (None = no config)."""
        return None


class SpanHarness(Harness):
    name = "span"

    def make(self, spark, path):
        return SpanStore(spark, path, w=4)

    def batch_df(self, spark, i):
        return _docs(spark, i * 10, i * 10 + 10)

    def ingest(self, store, df, batch):
        return store.ingest(df, batch)

    def state(self, store):
        return sorted(map(tuple, store.counts().collect()))

    def reopen_mismatched(self, spark, path):
        return lambda: SpanStore(spark, path, w=9)


class WinnowHarness(Harness):
    name = "winnow"

    def make(self, spark, path):
        return WinnowStore(spark, path, k=4, w=3)

    def batch_df(self, spark, i):
        return _docs(spark, i * 10, i * 10 + 10)

    def ingest(self, store, df, batch):
        return store.ingest(df, batch)

    def state(self, store):
        return sorted(map(tuple, store.postings().collect()))

    def reopen_mismatched(self, spark, path):
        return lambda: WinnowStore(spark, path, k=5, w=3)


class BloomHarness(Harness):
    name = "bloom"

    def make(self, spark, path):
        return BloomStore(spark, path, m_bits=1 << 12)

    def batch_df(self, spark, i):
        return _docs(spark, i * 10, i * 10 + 10).select(
            F.md5("text").alias("k")
        )

    def ingest(self, store, df, batch):
        return store.ingest(df, "k", batch)

    def state(self, store):
        return sorted(map(tuple, store.serve().collect()))

    def reopen_mismatched(self, spark, path):
        return lambda: BloomStore(spark, path, m_bits=1 << 13)


class DsirHarness(Harness):
    name = "dsir"

    def make(self, spark, path):
        store = DsirStore(spark, path, n_buckets=64)
        store.set_target(_docs(spark, 500, 520))
        return store

    def batch_df(self, spark, i):
        return _docs(spark, i * 10, i * 10 + 10)

    def ingest(self, store, df, batch):
        return store.ingest(df, batch)

    def state(self, store):
        return sorted(
            (r.doc_id, r.n_grams, round(r.log_weight, 9))
            for r in store.serve_weights().collect()
        )

    def reopen_mismatched(self, spark, path):
        return lambda: DsirStore(spark, path, n_buckets=128)


class RollupHarness(Harness):
    name = "rollup"

    def make(self, spark, path):
        return RollupStore(spark, path)

    def batch_df(self, spark, i):
        return _events(spark, i * 20, i * 20 + 20)

    def ingest(self, store, df, batch):
        return store.ingest(df, batch)

    def state(self, store):
        return sorted(
            (str(r.day), r.event_type, r.n_events, float(r.sum_value), r.min_value, r.max_value)
            for r in store.serve().collect()
        )


class IvfHarness(Harness):
    name = "ivf"
    CENTROIDS = [[0.0, 0.0, 0.0], [3.0, 2.0, 1.0], [6.0, 4.0, 2.0]]

    def make(self, spark, path):
        from etl_database_spark.functions.similarity import IvfIndex

        return IvfIndex.build(spark, _vecs(spark, 900, 910), self.CENTROIDS, path)

    def batch_df(self, spark, i):
        return _vecs(spark, i * 10, i * 10 + 10)

    def ingest(self, store, df, batch):
        return store.append(df, batch)

    def state(self, store):
        return sorted((r._id, r.centroid) for r in store.lists().collect())

    def reopen(self, spark, path):
        from etl_database_spark.functions.similarity import IvfIndex

        return IvfIndex.load(spark, path)


class EdgeHarness(Harness):
    name = "edge"
    # every doc any batch could contain — ingest's corpus contract is
    # "previously ingested ∪ new", and a superset is explicitly allowed
    CORPUS_RANGE = (0, 40)

    def _corpus(self, spark):
        return _docs(spark, *self.CORPUS_RANGE)

    def make(self, spark, path):
        from etl_database_spark.operators.edgestore import EdgeStore

        return EdgeStore(spark, path, n=5, num_perm=16, bands=16, threshold=0.3, min_agree=3)

    def batch_df(self, spark, i):
        return _docs(spark, i * 10, i * 10 + 10)

    def ingest(self, store, df, batch):
        return store.ingest(df, batch, corpus=self._corpus(df.sparkSession))

    def state(self, store):
        edges = sorted((r.id_a, r.id_b, round(r.jaccard, 9)) for r in store.edges().collect())
        sig_ids = sorted(r._id for r in store.signatures().collect())
        return (edges, sig_ids)

    def reopen_mismatched(self, spark, path):
        from etl_database_spark.operators.edgestore import EdgeStore

        return lambda: EdgeStore(spark, path, n=6, num_perm=16, bands=16, threshold=0.3, min_agree=3)


class PhraseHarness(Harness):
    name = "phrase"

    def make(self, spark, path):
        from etl_database_spark.operators.phraseindex import PhraseIndexStore

        return PhraseIndexStore(spark, path, n=3)

    def batch_df(self, spark, i):
        return _docs(spark, i * 10, i * 10 + 10)

    def ingest(self, store, df, batch):
        return store.ingest(df, batch)

    def state(self, store):
        return sorted(map(tuple, store.postings().collect()))

    def reopen_mismatched(self, spark, path):
        from etl_database_spark.operators.phraseindex import PhraseIndexStore

        return lambda: PhraseIndexStore(spark, path, n=4)


class TokenIndexHarness(Harness):
    name = "tokenindex"

    def make(self, spark, path):
        from etl_database_spark.operators.tokenindex import TokenIndexStore

        return TokenIndexStore(spark, path)

    def batch_df(self, spark, i):
        return _docs(spark, i * 10, i * 10 + 10)

    def ingest(self, store, df, batch):
        return store.ingest(df, batch)

    def state(self, store):
        return sorted(map(tuple, store.postings().collect())) + sorted(
            map(tuple, store.doclens().collect())
        )


HARNESSES = [
    SpanHarness(),
    WinnowHarness(),
    BloomHarness(),
    DsirHarness(),
    RollupHarness(),
    IvfHarness(),
    EdgeHarness(),
    PhraseHarness(),
    TokenIndexHarness(),
]


@pytest.fixture(params=HARNESSES, ids=[h.name for h in HARNESSES])
def harness(request):
    return request.param


def test_idempotent_replay(spark, tmp_path, harness):
    store = harness.make(spark, str(tmp_path / "store"))
    assert harness.ingest(store, harness.batch_df(spark, 0), "b0") is True
    state = harness.state(store)
    # replaying the same batch id is a no-op, even with different data
    assert harness.ingest(store, harness.batch_df(spark, 1), "b0") is False
    assert harness.state(store) == state
    # the reserved base id is never ingestable
    assert harness.ingest(store, harness.batch_df(spark, 1), BatchStore.BASE_BATCH) is False


def _batch_dirs(path, batch):
    """``batch=<batch>`` directories under the store root and every
    ``_``-prefixed root."""
    roots = [path] + [os.path.join(path, d) for d in os.listdir(path) if d.startswith("_")]
    return [os.path.join(r, f"batch={batch}") for r in roots
            if os.path.isdir(os.path.join(r, f"batch={batch}"))]


#: a committed batch id with a character Spark escapes in directory
#: names (``:`` is written ``%3A``)
ESCAPED_ID = "2024-01-01T10:00"


def test_crash_partial_heal(spark, tmp_path, harness):
    """A batch written but never committed (a kill between the write
    and the manifest commit): a fresh object on the store serves the
    state before the write and removes nothing; the retry sweeps the
    crashed attempt before it writes, so partitions only the crashed
    attempt wrote never leak into the healed state. The committed
    batch's id is escaped on disk, and the sweep keeps its data."""
    path = str(tmp_path / "store")
    store = harness.make(spark, path)
    harness.ingest(store, harness.batch_df(spark, 0), ESCAPED_ID)
    b0_state = harness.state(store)
    clean = harness.make(spark, str(tmp_path / "clean"))
    harness.ingest(clean, harness.batch_df(spark, 0), ESCAPED_ID)
    harness.ingest(clean, harness.batch_df(spark, 1), "b1")
    expected = harness.state(clean)
    # simulate the crash: write b1 (with other data than the retry's)
    # then erase its commit record
    manifest = os.path.join(path, BatchStore.COMMITTED_FILE)
    with open(manifest) as fh:
        before = json.load(fh)
    harness.ingest(store, harness.batch_df(spark, 2), "b1")
    with open(manifest, "w") as fh:
        json.dump(before, fh)
    crashed = _batch_dirs(path, "b1")
    assert crashed
    reopened = harness.reopen(spark, path)
    assert harness.state(reopened) == b0_state
    assert _batch_dirs(path, "b1") == crashed
    # retry must succeed (not see the partial as ingested) and heal
    assert harness.ingest(reopened, harness.batch_df(spark, 1), "b1") is True
    assert harness.state(reopened) == expected
    assert harness.state(harness.reopen(spark, path)) == expected


def test_reader_mid_write_removes_nothing(spark, tmp_path, monkeypatch, harness):
    """Another session opening the store while a batch is written
    (after its data, before its commit) serves the committed state and
    deletes nothing of the batch in flight: once the writer commits,
    every session serves the whole batch."""
    path = str(tmp_path / "store")
    store = harness.make(spark, path)
    harness.ingest(store, harness.batch_df(spark, 0), "b0")
    b0_state = harness.state(store)
    clean = harness.make(spark, str(tmp_path / "clean"))
    harness.ingest(clean, harness.batch_df(spark, 0), "b0")
    harness.ingest(clean, harness.batch_df(spark, 1), "b1")
    expected = harness.state(clean)
    seen = []
    real = BatchStore._commit

    def commit_after_a_reader(self, batch, retraction=False):
        seen.append(harness.state(harness.reopen(spark, path)))
        real(self, batch, retraction)

    monkeypatch.setattr(BatchStore, "_commit", commit_after_a_reader)
    assert harness.ingest(store, harness.batch_df(spark, 1), "b1") is True
    monkeypatch.undo()
    assert seen == [b0_state]
    assert harness.state(store) == expected
    assert harness.state(harness.reopen(spark, path)) == expected


def test_next_write_sweeps_a_first_batch_crash(spark, tmp_path):
    """A kill during the first batch's bucket-count write: the
    signature and band roots hold uncommitted ``batch=b0`` data and the
    fresh count root holds only Spark's ``_temporary/0``. Reopening
    removes nothing; the retry sweeps all three roots and lands the
    batch."""
    import shutil

    from etl_database_spark.operators.edgestore import EdgeStore

    h = EdgeHarness()
    path = str(tmp_path / "store")
    h.ingest(h.make(spark, path), h.batch_df(spark, 0), "b0")
    expected = h.state(h.reopen(spark, path))
    with open(os.path.join(path, BatchStore.COMMITTED_FILE), "w") as fh:
        json.dump([], fh)
    shutil.rmtree(os.path.join(path, "batch=b0"), ignore_errors=True)
    shutil.rmtree(os.path.join(path, EdgeStore.COUNTS_SUBDIR))
    debris = os.path.join(path, EdgeStore.COUNTS_SUBDIR, "_temporary", "0")
    os.makedirs(debris)

    store = h.reopen(spark, path)
    assert store.batches() == []
    assert os.path.isdir(debris) and len(_batch_dirs(path, "b0")) == 2
    real = store._write_sigs

    def write_after_the_sweep(*args, **kwargs):
        # the retry's first write: every root of the crash is gone
        assert not {EdgeStore.SIGS_SUBDIR, EdgeStore.BANDS_SUBDIR,
                    EdgeStore.COUNTS_SUBDIR} & set(os.listdir(path))
        real(*args, **kwargs)

    store._write_sigs = write_after_the_sweep
    assert h.ingest(store, h.batch_df(spark, 0), "b0") is True
    assert h.state(store) == expected


class _Killed(BaseException):
    """A process kill at a chosen call: no handler swallows it."""


@pytest.mark.parametrize("h", [RollupHarness(), SpanHarness()], ids=["rollup", "span"])
def test_retraction_killed_before_its_commit_is_not_listed(spark, tmp_path, monkeypatch, h):
    """A kill between the retraction record and the manifest commit
    leaves an uncommitted batch: the reopened store does not list it
    as a retraction, serves the state before it (a RollupStore keeps
    its extrema) and the retry records it."""
    from etl_database_spark import commit

    path = str(tmp_path / "store")
    store = h.make(spark, path)
    df = h.batch_df(spark, 0)
    h.ingest(store, df, "b0")
    before = h.state(store)
    real = commit.write_json

    def killed_at_commit(p, value):
        if os.path.basename(p) == BatchStore.COMMITTED_FILE:
            raise _Killed(p)
        real(p, value)

    monkeypatch.setattr(commit, "write_json", killed_at_commit)
    with pytest.raises(_Killed):
        store.retract(df, "rm")
    monkeypatch.undo()

    reopened = h.reopen(spark, path)
    assert reopened.retractions() == []
    assert h.state(reopened) == before
    assert reopened.retract(df, "rm") is True
    assert reopened.retractions() == ["rm"]


def test_compaction_identity_and_absorbed_replay(spark, tmp_path, harness):
    store = harness.make(spark, str(tmp_path / "store"))
    harness.ingest(store, harness.batch_df(spark, 0), "b0")
    harness.ingest(store, harness.batch_df(spark, 1), "b1")
    before = harness.state(store)
    batches_before = set(store.batches())
    store.compact()
    assert harness.state(store) == before
    # absorbed ids are remembered: late replays stay no-ops
    assert batches_before <= set(store.batches())
    assert harness.ingest(store, harness.batch_df(spark, 2), "b0") is False
    assert harness.state(store) == before
    # and new batches still land after a compaction
    assert harness.ingest(store, harness.batch_df(spark, 2), "b2") is True


def test_config_identity(spark, tmp_path, harness):
    path = str(tmp_path / "store")
    store = harness.make(spark, path)
    harness.ingest(store, harness.batch_df(spark, 0), "b0")
    mismatched = harness.reopen_mismatched(spark, path)
    if mismatched is None:
        pytest.skip(f"{harness.name} has no config identity")
    with pytest.raises(ValueError):
        mismatched()


def test_compact_swap_failure_restores_store(spark, tmp_path, monkeypatch):
    """If a rename of the compacted data into the store fails, the
    publish is rolled back in process — the same store object stays
    serveable and no stage or journal is left (ADVICE r8: previously
    the path was left absent)."""
    path = str(tmp_path / "store")
    store = SpanStore(spark, path, w=4)
    store.ingest(_docs(spark, 0, 10), "b0")
    before = sorted(map(tuple, store.counts().collect()))

    real_rename = os.rename

    def failing_rename(src, dst):
        # BatchStore.compact's publish moves the store's entries into
        # <stage>/old, then the fold's from <stage>/new into the store;
        # the stage is .store.stage-<hex>
        if ".store.stage-" in src and f"{os.sep}new{os.sep}" in src:
            raise OSError("injected swap failure")
        return real_rename(src, dst)

    monkeypatch.setattr(os, "rename", failing_rename)
    with pytest.raises(OSError, match="injected swap failure"):
        store.compact()
    monkeypatch.undo()
    assert os.path.isdir(path)
    assert sorted(map(tuple, store.counts().collect())) == before
    assert store.batches() == ["b0"]
    assert sorted(os.listdir(tmp_path)) == ["store"]
