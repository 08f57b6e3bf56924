import datetime as dt

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from etl_database_spark.ingest import ImportConfig
from etl_database_spark.metadata import MetadataSpec
from etl_database_spark.registry import DatasetRegistry
from etl_database_spark.streaming.file_ingest import run_once


def test_streaming_ingest_exactly_once(spark, tmp_path):
    watch = tmp_path / "watch"
    watch.mkdir()
    cfg = ImportConfig(
        config_name="StreamImport",
        source_directory=str(watch),
        archive_directory=str(tmp_path / "arch"),
        file_pattern=r".*\.csv",
        target_table="tstream",
        metadata=MetadataSpec(label_location="2", date_location="0"),
    )
    schema = T.StructType(
        [T.StructField("company", T.StringType()), T.StructField("ticker", T.StringType())]
    )
    reg = DatasetRegistry(spark, str(tmp_path / "registry"))
    (watch / "20250301T120000_MeetMax_5.csv").write_text("company,ticker\nAcme,AC\n")

    n1 = run_once(spark, cfg, schema, reg, str(tmp_path / "data"), str(tmp_path / "ckpt"))
    assert n1 == 1
    # second run with no new files: checkpoint prevents reprocessing
    n2 = run_once(spark, cfg, schema, reg, str(tmp_path / "data"), str(tmp_path / "ckpt"))
    assert n2 == 0
    # new file arrives → only it is processed
    (watch / "20250302T120000_MeetMax_5.csv").write_text("company,ticker\nBeta,BE\n")
    n3 = run_once(spark, cfg, schema, reg, str(tmp_path / "data"), str(tmp_path / "ckpt"))
    assert n3 == 1

    out = spark.read.option("mergeSchema", "true").parquet(str(tmp_path / "data" / "tstream"))
    assert out.count() == 2
    assert set(out.columns) >= {"company", "ticker", "datasetid", "datasetdate"}
    # each file registered its own dataset snapshot with the filename date
    ds = reg.datasets().orderBy("datasetid").collect()
    assert [d.datasetdate for d in ds] == [dt.date(2025, 3, 1), dt.date(2025, 3, 2)]


def test_streaming_ingest_header_only_file_is_a_no_op(spark, tmp_path):
    """A micro-batch with no rows (a header-only CSV) registers nothing
    and writes nothing: no dataset snapshot, no target table dir."""
    watch = tmp_path / "watch"
    watch.mkdir()
    cfg = ImportConfig(
        config_name="StreamImport",
        source_directory=str(watch),
        archive_directory=str(tmp_path / "arch"),
        file_pattern=r".*\.csv",
        target_table="tstream",
        metadata=MetadataSpec(label_location="2", date_location="0"),
    )
    schema = T.StructType(
        [T.StructField("company", T.StringType()), T.StructField("ticker", T.StringType())]
    )
    reg = DatasetRegistry(spark, str(tmp_path / "registry"))
    (watch / "20250301T120000_MeetMax_5.csv").write_text("company,ticker\n")

    n = run_once(spark, cfg, schema, reg, str(tmp_path / "data"), str(tmp_path / "ckpt"))
    assert n == 0
    assert reg.datasets().count() == 0
    assert not (tmp_path / "data" / "tstream").exists()


def test_windowed_stream_matches_batch(spark, tmp_path):
    """Stream (watermarked, append mode) emits exactly the batch
    windowed aggregate for windows the final watermark closed."""
    import datetime as dt

    from etl_database_spark.streaming.windowed import (
        run_windowed_once,
        windowed_event_counts,
    )

    base = dt.datetime(2025, 3, 1, 0, 0, 0)
    rows = []
    for i in range(200):
        rows.append(
            (i, base + dt.timedelta(minutes=4 * i), i % 7, "click" if i % 2 else "view", float(i))
        )
    events = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double"
    )
    src = str(tmp_path / "events_src")
    events.coalesce(2).write.parquet(src)

    stream = spark.readStream.schema(events.schema).parquet(src)
    out = str(tmp_path / "windowed_out")
    run_windowed_once(stream, out, str(tmp_path / "ckpt"), "1 hour", "2 hours")

    got = {
        (r.window_start, r.event_type): (r.n_events, r.total_value)
        for r in spark.read.parquet(out).collect()
    }
    max_ts = max(r[1] for r in rows)
    closed = max_ts - dt.timedelta(hours=2)
    expected = {
        (r.window_start, r.event_type): (r.n_events, r.total_value)
        for r in windowed_event_counts(events, "1 hour").collect()
        if r.window_end <= closed
    }
    assert got == expected
    assert len(got) > 0


def test_stateful_sessionization_stream_matches_batch(spark, tmp_path):
    """applyInPandasWithState sessions == batch window-function sessions
    for sessions the final watermark closed."""
    import datetime as dt

    from etl_database_spark.streaming.sessions import (
        sessionize_batch,
        sessionize_stream,
    )

    base = dt.datetime(2025, 3, 1, 0, 0, 0)
    rows = []
    eid = 0
    for user in range(5):
        t = base + dt.timedelta(minutes=user * 3)
        for burst in range(4):
            for i in range(3):  # 3 events 5 min apart → one session
                rows.append((eid, t, user, "click", float(eid)))
                eid += 1
                t += dt.timedelta(minutes=5)
            t += dt.timedelta(minutes=90)  # gap > 30min → session break
    events = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double"
    )
    src = str(tmp_path / "sess_src")
    events.coalesce(2).write.parquet(src)

    stream = spark.readStream.schema(events.schema).parquet(src)
    sessions = sessionize_stream(stream, gap_minutes=30, watermark="1 hour")
    out = str(tmp_path / "sess_out")
    q = (
        sessions.writeStream.outputMode("append")
        .format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "sess_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    got = {
        (r.user_id, r.session_start): (r.session_end, r.n_events, r.total_value)
        for r in spark.read.parquet(out).collect()
    }
    max_ts = max(r[1] for r in rows)
    batch = sessionize_batch(events, 30).collect()
    # stream emits sessions whose timeout (< last+gap) precedes the
    # final watermark (max_ts - 1h)
    expected = {
        (r.user_id, r.session_start): (r.session_end, r.n_events, r.total_value)
        for r in batch
        if r.session_end + dt.timedelta(minutes=30) < max_ts - dt.timedelta(hours=1)
    }
    assert len(got) > 0
    assert got == expected


def test_streaming_near_dup_within_and_across_batches(spark, tmp_path):
    """Streaming minhash near-dup: a near-identical pair inside one
    batch AND one split across two drains both surface in the matches
    table; unrelated docs never pair."""
    from etl_database_spark.streaming.near_dup import run_near_dup_once

    base_text = "the quick brown fox jumps over the lazy dog " * 12
    variant = base_text.replace("lazy dog", "lazy cat", 1)
    other = "completely unrelated content about spark partitions " * 12

    src = str(tmp_path / "src")
    store, matches = str(tmp_path / "store"), str(tmp_path / "matches")
    ckpt = str(tmp_path / "ckpt")
    schema = "doc_id long, text string"

    # drain 1: docs 1+2 are near-dups of each other (within-batch), 3 unrelated
    d1 = spark.createDataFrame([(1, base_text), (2, variant), (3, other)], schema)
    d1.write.parquet(src)
    run_near_dup_once(
        spark,
        spark.readStream.schema(d1.schema).parquet(src),
        store,
        matches,
        ckpt,
        threshold=0.5,
    )
    m1 = {(r.id_a, r.id_b) for r in spark.read.parquet(matches).collect()}
    assert (1, 2) in m1 or (2, 1) in m1
    assert not any(3 in p for p in m1)

    # drain 2: doc 4 is a near-dup of doc 1 from the PREVIOUS drain
    d2 = spark.createDataFrame(
        [(4, base_text.replace("quick", "swift", 1)), (5, "novel text " * 20)], schema
    )
    d2.write.mode("append").parquet(src)
    run_near_dup_once(
        spark,
        spark.readStream.schema(d1.schema).parquet(src),
        store,
        matches,
        ckpt,
        threshold=0.5,
    )
    m2 = {(r.id_a, r.id_b) for r in spark.read.parquet(matches).collect()}
    cross = {p for p in m2 if 4 in p}
    assert any(1 in p or 2 in p for p in cross), f"no cross-batch match: {m2}"
    assert not any(5 in p and 3 in p for p in m2)
    # store now holds every signed doc exactly once
    assert spark.read.parquet(store).select("_id").distinct().count() == 5
    assert spark.read.parquet(store).count() == 5


def test_near_dup_store_refuses_foreign_checkpoint(spark, tmp_path):
    """A stream with a FRESH checkpoint restarts batch ids at 0; its
    writes would overwrite an existing store's batch partitions. The
    store is bound to the first checkpoint's query id and must refuse
    any other stream rather than destroy data."""
    from etl_database_spark.streaming.near_dup import run_near_dup_once

    src = str(tmp_path / "src")
    store, matches = str(tmp_path / "store"), str(tmp_path / "matches")
    schema = "doc_id long, text string"
    d1 = spark.createDataFrame([(1, "alpha " * 40), (2, "beta " * 40)], schema)
    d1.write.parquet(src)
    run_near_dup_once(
        spark,
        spark.readStream.schema(d1.schema).parquet(src),
        store,
        matches,
        str(tmp_path / "ckpt1"),
    )
    stored_before = spark.read.parquet(store).count()
    assert stored_before == 2

    with pytest.raises(Exception, match="signature store"):
        run_near_dup_once(
            spark,
            spark.readStream.schema(d1.schema).parquet(src),
            store,
            str(tmp_path / "matches2"),
            str(tmp_path / "ckpt2"),  # fresh checkpoint → new stream id
        )
    # nothing was overwritten
    assert spark.read.parquet(store).count() == stored_before

    # the ORIGINAL checkpoint still works (same stream id rebinds)
    d2 = spark.createDataFrame([(3, "gamma " * 40)], schema)
    d2.write.mode("append").parquet(src)
    run_near_dup_once(
        spark,
        spark.readStream.schema(d1.schema).parquet(src),
        store,
        matches,
        str(tmp_path / "ckpt1"),
    )
    assert spark.read.parquet(store).count() == 3


def test_streaming_near_dups_registry_query_equals_batch(spark):
    """The registry-level streaming near-dup query: every streamed
    pair is confirmed by the batch twin (in_batch all true), and no
    batch pair is missing from the streamed set — full two-sided
    equivalence of the store+merge path with one-shot batch LSH."""
    import os

    import pytest as _pytest

    sf_dir = "/root/testdata/sf0.001"
    if not os.path.isdir(sf_dir):
        _pytest.skip("testdata not present")
    from etl_database_spark.queries import load_all
    from etl_database_spark.queries.llmdata import _MINHASH_PARAMS
    from etl_database_spark.queries import table as load_table
    from etl_database_spark.streaming.near_dup import batch_estimate_pairs

    rows = load_all()["streaming_near_dups"].fn(spark, sf_dir).collect()
    assert rows, "no near-dup pairs found at sf0.001 — fixture changed?"
    assert all(r.in_batch and r.in_stream for r in rows)
    streamed = {(r.id_a, r.id_b) for r in rows}
    d = load_table(spark, sf_dir, "documents")
    batch = {
        (min(r.id_a, r.id_b), max(r.id_a, r.id_b))
        for r in batch_estimate_pairs(
            d, "text", "doc_id",
            n=_MINHASH_PARAMS["n"], num_perm=_MINHASH_PARAMS["num_perm"],
            bands=_MINHASH_PARAMS["bands"], threshold=_MINHASH_PARAMS["threshold"],
        ).collect()
    }
    assert streamed == batch


def test_near_dup_batch_replay_is_idempotent(spark, tmp_path):
    """foreachBatch replays a batch id after a crash-before-checkpoint;
    re-running process_batch with the same id must not duplicate
    matches or store rows."""
    from etl_database_spark.streaming.near_dup import SignatureStore, process_batch

    docs = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog today"),
         (2, "the quick brown fox jumps over the lazy dog tonight")],
        "doc_id long, text string",
    )
    store = SignatureStore(spark, str(tmp_path / "store"))
    matches = str(tmp_path / "matches")
    process_batch(docs, store, matches, batch_id=7)
    first = sorted((r.id_a, r.id_b) for r in spark.read.parquet(matches).collect())
    n_store_first = store.read().count()
    process_batch(docs, store, matches, batch_id=7)  # replay
    again = sorted((r.id_a, r.id_b) for r in spark.read.parquet(matches).collect())
    assert again == first and len(first) >= 1
    assert store.read().count() == n_store_first == 2


def test_signature_store_skips_uncommitted_batch_dir(spark, tmp_path):
    """A batch dir with no committed parquet (only ``_SUCCESS``, as an
    empty micro-batch's write leaves it) is not a stored batch: the
    store must not try to read it, and the next batch must run."""
    from etl_database_spark.streaming.near_dup import SignatureStore, process_batch

    store = SignatureStore(spark, str(tmp_path / "store"))
    planted = tmp_path / "store" / "batch=3"
    planted.mkdir(parents=True)
    (planted / "_SUCCESS").write_text("")
    assert not store.exists() and store.read() is None
    docs = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog today"),
         (2, "the quick brown fox jumps over the lazy dog tonight")],
        "doc_id long, text string",
    )
    matches = str(tmp_path / "matches")
    process_batch(docs, store, matches, batch_id=4)
    assert store.read().count() == 2
    assert spark.read.parquet(matches).count() >= 1


def test_hopping_stream_matches_batch(spark, tmp_path):
    """Hopping (overlapping) windows: the streamed append-mode output
    must equal the batch hopping aggregate for watermark-closed
    windows, with each event counted in exactly size/slide windows."""
    import datetime as dt

    from etl_database_spark.streaming.windowed import windowed_event_counts

    base = dt.datetime(2025, 4, 1, 0, 0, 0)
    rows = []
    for i in range(240):
        rows.append(
            (i, base + dt.timedelta(minutes=3 * i), i % 5, "click" if i % 2 else "view", float(i))
        )
    events = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double"
    )
    src = str(tmp_path / "events_src")
    events.coalesce(2).write.parquet(src)

    batch = windowed_event_counts(events, "1 hour", slide="30 minutes")
    # every event lands in exactly 2 windows
    total = batch.agg(F.sum("n_events")).collect()[0][0]
    assert total == 2 * len(rows)

    stream = spark.readStream.schema(events.schema).parquet(src)
    agg = windowed_event_counts(stream, "1 hour", "2 hours", slide="30 minutes")
    out = str(tmp_path / "hop_out")
    (
        agg.writeStream.outputMode("append")
        .format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "hop_ckpt"))
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    got = {
        (r.window_start, r.event_type): (r.n_events, r.total_value)
        for r in spark.read.parquet(out).collect()
    }
    max_ts = max(r[1] for r in rows)
    closed = max_ts - dt.timedelta(hours=2)
    want = {
        (r.window_start, r.event_type): (r.n_events, r.total_value)
        for r in batch.collect()
        if r.window_end <= closed
    }
    for k, v in want.items():
        assert got.get(k) == v, k


def test_stream_bind_torn_marker_write_leaves_store_unclaimed(tmp_path, monkeypatch):
    """A kill while the stream-id marker is being written must not
    leave an empty marker that refuses every later ``bind``: the next
    bind claims the store, and a foreign stream is still refused."""
    import builtins

    from etl_database_spark.streaming.near_dup import SignatureStore

    real_open = builtins.open

    class Torn:
        def __init__(self, fh):
            self.fh = fh

        def write(self, text):
            self.fh.write(text[:1])
            raise OSError("killed mid-write")

        def __enter__(self):
            return self

        def __exit__(self, *exc):
            self.fh.close()

    def torn_open(path, mode="r", *args, **kwargs):
        fh = real_open(path, mode, *args, **kwargs)
        return Torn(fh) if "w" in mode and "_stream_id" in str(path) else fh

    store = SignatureStore(None, str(tmp_path / "store"))
    monkeypatch.setattr(builtins, "open", torn_open)
    with pytest.raises(OSError, match="killed mid-write"):
        store.bind("stream-1")
    monkeypatch.undo()
    store.bind("stream-1")
    SignatureStore(None, str(tmp_path / "store")).bind("stream-1")
    with pytest.raises(ValueError, match="belongs to stream stream-1"):
        store.bind("stream-2")
