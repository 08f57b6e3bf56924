"""Crash-point harness for the commit protocol (etl_database_spark/commit.py).

For each persisted write path, the k-th call to ``os.rename``,
``os.replace``, ``os.remove``/``os.unlink`` or ``shutil.rmtree`` on the
write's own files raises, for every k the write makes, and so does every
later call: no in-process rollback can run, as after a process kill.
Then the functions are restored, fresh objects reopen the state, and it
must be the state from before the write or the one after it, with no
stage or journal left behind. The registry and lookup cases need no
Spark."""

from __future__ import annotations

import datetime as dt
import os
import re
import shutil
from contextlib import contextmanager

import pytest

from etl_database_spark.registry import STATUS_ID, DatasetRegistry, _read_arrow

FAULT_POINTS = [(os, "rename"), (os, "replace"), (os, "remove"), (os, "unlink"),
                (shutil, "rmtree")]
LEFTOVER = re.compile(r"\.stage-[0-9a-f]+$|\.commit(\.tmp)?$")
D1, D2 = dt.date(2024, 1, 1), dt.date(2024, 1, 2)


class Killed(BaseException):
    """The injected fault: not an ``Exception``, so no handler that
    degrades gracefully swallows it."""


@contextmanager
def faults(root: str, k: int | None):
    """Count the fault-point calls on paths under ``root``; from the
    k-th on (never, for ``k=None``) each raises ``Killed``."""
    calls: list[str] = []
    saved = [(mod, name, getattr(mod, name)) for mod, name in FAULT_POINTS]

    def faulty(name, real):
        def call(path, *args, **kwargs):
            if os.fspath(path).startswith(root + os.sep):
                calls.append(name)
                if k is not None and len(calls) >= k:
                    raise Killed(f"{name} call {len(calls)}")
            return real(path, *args, **kwargs)
        return call

    for mod, name, real in saved:
        setattr(mod, name, faulty(name, real))
    try:
        yield calls
    finally:
        for mod, name, real in saved:
            setattr(mod, name, real)


def leftovers(root: str) -> list[str]:
    return [os.path.join(d, n) for d, dirs, files in os.walk(root)
            for n in dirs + files if LEFTOVER.search(n)]


def crash_everywhere(tmp_path, setup, write, observe, min_calls=3):
    """Run ``write`` on a copy of the ``setup`` state once whole, then
    once per fault point k, killed there; after each kill ``observe``
    (fresh objects) must see the before or the after state and the
    next open must leave no stage or journal. Returns the call count."""
    pristine = str(tmp_path / "pristine")
    setup(pristine)

    def copy(name):
        dst = str(tmp_path / name)
        shutil.copytree(pristine, dst)
        return dst

    before = observe(copy("before"))
    whole = copy("whole")
    with faults(whole, None) as calls:
        write(whole)
    after = observe(whole)
    assert before != after and not leftovers(whole)
    assert len(calls) >= min_calls, calls
    for k in range(1, len(calls) + 1):
        root = copy(f"k{k}")
        with faults(root, k), pytest.raises(Killed):
            write(root)
        state = observe(root)
        assert state in (before, after), (k, calls[k - 1], state)
        assert not leftovers(root), (k, calls[k - 1])
    return len(calls)


# -- registry rows and lookups (no Spark) -------------------------------------

ROW_KEYS = ("datasetid", "datasetdate", "label", "datasettypeid", "datastatusid", "isactive")


def _registry(root):
    return DatasetRegistry(None, os.path.join(root, "registry"))


def _seed_registry(root):
    reg = _registry(root)
    t = reg.ensure_type("Events")
    reg.ensure_source("file")
    reg.register_snapshot(D1, "web", t)
    reg.register_snapshot(D1, "web", t)  # supersedes id 1
    reg.register_snapshot(D2, "web", t, datastatusid=STATUS_ID["New"])


def _observe_rows(root):
    rows = _registry(root)._rows()
    active = [(r["label"], r["datasettypeid"], r["datasetdate"]) for r in rows if r["isactive"]]
    assert len(active) == len(set(active)), "single-active invariant broken"
    return sorted(tuple(r[k] for k in ROW_KEYS) for r in rows)


REGISTRY_WRITES = {
    "register_snapshot": lambda reg: reg.register_snapshot(D1, "web", 1),
    "register_snapshots": lambda reg: reg.register_snapshots([(D1, "web"), (D2, "app")], 1),
    "set_status": lambda reg: reg.set_status(3, "Active"),
}


@pytest.mark.parametrize("op", sorted(REGISTRY_WRITES))
def test_registry_row_write_survives_a_kill_anywhere(tmp_path, op):
    seen: list[list] = []

    def observe(root):
        rows = _observe_rows(root)
        seen.append(rows)
        return rows

    crash_everywhere(tmp_path, _seed_registry,
                     lambda root: REGISTRY_WRITES[op](_registry(root)), observe)
    # no datasetid is reused: every reopened registry hands out ids past
    # every id it held before the write
    held = max(r[0] for r in seen[0])
    for name in os.listdir(tmp_path):
        if name.startswith("k"):
            reg = _registry(str(tmp_path / name))
            assert reg.register_snapshot(D2, "new", 1) > held


@pytest.mark.parametrize("lookup", ["dataset_type", "dataset_source"])
def test_lookup_write_survives_a_kill_anywhere(tmp_path, lookup):
    import pyarrow as pa

    id_col, name_col = {"dataset_type": ("datasettypeid", "datasettype"),
                        "dataset_source": ("datasourceid", "datasource")}[lookup]
    ensure = {"dataset_type": "ensure_type", "dataset_source": "ensure_source"}[lookup]
    schema = pa.schema([pa.field(id_col, pa.int32()), pa.field(name_col, pa.string())])

    def observe(root):
        table = _read_arrow(os.path.join(root, "registry", lookup), schema)
        return sorted(zip(table[id_col].to_pylist(), table[name_col].to_pylist()))

    crash_everywhere(tmp_path, _seed_registry,
                     lambda root: getattr(_registry(root), ensure)("Orders"), observe)


# -- data tables ----------------------------------------------------------------


def _rows_df(spark, ds, dates):
    return spark.createDataFrame(
        [(f"{ds}-{i}", ds, d) for d in dates for i in range(3)],
        "x string, datasetid long, datasetdate date",
    ).coalesce(1)


def _observe_table(spark, root):
    from etl_database_spark.ingest import TargetTable

    table = TargetTable(spark, os.path.join(root, "data"), "t")
    if not table.exists():
        return []
    df = table.read()
    assert dict(df.dtypes)["datasetdate"] == "date"
    assert set(table.files_per_partition()) <= {f"datasetdate={D1}", f"datasetdate={D2}"}
    registered = {r[0] for r in _observe_rows(root)}
    rows = sorted(tuple(r) for r in df.select("x", "datasetid", "datasetdate").collect())
    assert {r[1] for r in rows} <= registered, "rows of an unregistered dataset"
    return rows


@pytest.mark.parametrize("existing", [False, True], ids=["new_table", "existing_table"])
def test_append_survives_a_kill_anywhere(spark, tmp_path, existing):
    from etl_database_spark.ingest import TargetTable

    def setup(root):
        _seed_registry(root)
        if existing:
            TargetTable(spark, os.path.join(root, "data"), "t").append(_rows_df(spark, 2, [D1]))

    def write(root):
        TargetTable(spark, os.path.join(root, "data"), "t").append(_rows_df(spark, 3, [D1, D2]))

    crash_everywhere(tmp_path, setup, write, lambda root: _observe_table(spark, root))


def test_compact_table_survives_a_kill_anywhere(spark, tmp_path):
    from etl_database_spark.ingest import TargetTable
    from etl_database_spark.maintenance import compact_table

    def setup(root):
        _seed_registry(root)
        table = TargetTable(spark, os.path.join(root, "data"), "t")
        for ds in (1, 2, 3):
            table.append(_rows_df(spark, ds, [D1, D2]))

    def observe(root):
        files = TargetTable(spark, os.path.join(root, "data"), "t").files_per_partition()
        return _observe_table(spark, root), sorted(files.items())

    n = crash_everywhere(
        tmp_path, setup,
        lambda root: compact_table(spark, os.path.join(root, "data", "t"), target_files=1),
        observe)
    assert n >= 6  # both crowded partitions swap in one journal


# -- stores -------------------------------------------------------------------


def _docs(spark, lo, hi):
    rows = [(i, f"alpha beta gamma delta token{i % 4} eta theta") for i in range(lo, hi)]
    return spark.createDataFrame(rows, "doc_id long, text string")


def _span_store(spark, root):
    from etl_database_spark.operators.spanstore import SpanStore

    return SpanStore(spark, os.path.join(root, "store"), w=4)


def _dsir_store(spark, root):
    from etl_database_spark.operators.dsirstore import DsirStore

    return DsirStore(spark, os.path.join(root, "store"), n_buckets=64)


def _dsir_weights(store):
    rows = store.serve_weights().collect()
    return sorted((r.doc_id, r.n_grams, round(r.log_weight, 9)) for r in rows)


@pytest.mark.parametrize("kind", ["span", "dsir"])
def test_batchstore_compact_survives_a_kill_anywhere(spark, tmp_path, kind):
    """SpanStore is the cheapest store; DsirStore also has a ``_target``
    subdirectory the compaction must leave in place."""
    make = {"span": _span_store, "dsir": _dsir_store}[kind]

    def setup(root):
        store = make(spark, root)
        store.ingest(_docs(spark, 0, 6), "b0")
        store.ingest(_docs(spark, 6, 12), "b1")
        if kind == "dsir":
            store.set_target(_docs(spark, 0, 2))

    def observe(root):
        store = make(spark, root)
        if kind == "dsir":
            return _dsir_weights(store), store.batches()
        return sorted(map(tuple, store.counts().collect())), store.batches()

    crash_everywhere(tmp_path, setup, lambda root: make(spark, root).compact(), observe)


def test_rollup_retract_batch_survives_a_kill_anywhere(spark, tmp_path):
    """A ``keep_raw`` RollupStore with an HLL sketch root and batches b0
    and b1 on two days: ``retract_batch("b1")`` swaps both days'
    partials in every root, drops b1's raw slice and records the
    recomputation in one publish."""
    from etl_database_spark.operators.rollup import RollupStore

    def make(root):
        return RollupStore(spark, os.path.join(root, "store"), distinct_col="user",
                           keep_raw=True)

    def events(lo, hi):
        rows = [(i, dt.datetime(2024, 1, 1 + i % 2, 10), "click" if i % 3 else "buy",
                 float(i), f"u{i % 5}") for i in range(lo, hi)]
        return spark.createDataFrame(
            rows, "event_id long, ts timestamp, event_type string, value double, user string")

    def setup(root):
        store = make(root)
        store.ingest(events(0, 8), "b0")
        store.ingest(events(8, 14), "b1")

    def observe(root):
        store = make(root)
        raw = os.path.join(store.path, RollupStore.RAW_SUBDIR)
        return (sorted(map(tuple, store.serve().collect())),
                sorted(map(tuple, store.serve_distinct().collect())),
                store.recomputations(),
                sorted(d for d in os.listdir(raw) if d.startswith("batch=")))

    crash_everywhere(tmp_path, setup, lambda root: make(root).retract_batch("b1"), observe)


def test_dsir_set_target_survives_a_kill_anywhere(spark, tmp_path):
    def setup(root):
        store = _dsir_store(spark, root)
        store.ingest(_docs(spark, 0, 8), "b0")
        store.set_target(_docs(spark, 0, 2))

    crash_everywhere(tmp_path, setup,
                     lambda root: _dsir_store(spark, root).set_target(_docs(spark, 4, 8)),
                     lambda root: _dsir_weights(_dsir_store(spark, root)))


def test_purge_old_logs_survives_a_kill_anywhere(spark, tmp_path):
    from etl_database_spark.logutil import LOG_SCHEMA, purge_old_logs, read_logs

    def setup(root):
        now = dt.datetime.now()
        rows = [(f"log{i}", now - dt.timedelta(days=30 * (i % 2)), "run", "x", i, "u", 0.0, 0.0,
                 "m") for i in range(6)]  # every odd row is 30 days old
        df = spark.createDataFrame(rows, LOG_SCHEMA).coalesce(1)
        df.write.parquet(os.path.join(root, "logs"))

    def observe(root):
        return sorted(r.logid for r in read_logs(spark, os.path.join(root, "logs")).collect())

    crash_everywhere(tmp_path, setup,
                     lambda root: purge_old_logs(spark, os.path.join(root, "logs"), keep_days=14),
                     observe)
