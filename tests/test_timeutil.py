"""TIMESTAMP_NTZ normalization — regression for the fixture-encoding
change that broke ``unix_micros`` consumers.

The synthetic events fixture is plain parquet ``timestamp[us]`` with no
UTC-adjustment flag; Spark 4 reads that as TIMESTAMP_NTZ, which
``unix_micros`` rejects. These tests round-trip a *parquet file* (not
an in-memory frame with an explicit TimestampType — that was exactly
the blind spot) through every operator that does microsecond
arithmetic.
"""

from __future__ import annotations

import datetime as dt

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from etl_database_spark.operators.asof import asof_join_backward, range_join
from etl_database_spark.streaming.sessions import sessionize_batch
from etl_database_spark.streaming.windowed import windowed_event_counts
from etl_database_spark.timeutil import normalize_event_time


def _write_ntz_events(path: str) -> None:
    """Write a parquet file whose ts column Spark reads as TIMESTAMP_NTZ
    (isAdjustedToUTC=false — what the current testdata fixture uses)."""
    base = dt.datetime(2024, 3, 1, 12, 0, 0)
    rows = []
    for user in (1, 2):
        for i in range(6):
            # two sessions per user: 3 events 1 min apart, 2h gap, 3 more
            offset = dt.timedelta(minutes=i) if i < 3 else dt.timedelta(hours=2, minutes=i)
            rows.append(
                {
                    "event_id": user * 100 + i,
                    "ts": base + offset,
                    "user_id": user,
                    "event_type": "click" if i % 2 == 0 else "purchase",
                    "value": float(i),
                }
            )
    tbl = pa.Table.from_pandas(pd.DataFrame(rows))
    assert not tbl.schema.field("ts").type.tz  # genuinely NTZ on disk
    # timestamp[us] like the real fixture (nanos would be rejected)
    pq.write_table(tbl, path, coerce_timestamps="us")


@pytest.fixture(scope="module")
def ntz_events(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("ntz") / "events.parquet")
    _write_ntz_events(path)
    df = spark.read.parquet(path)
    assert dict(df.dtypes)["ts"] == "timestamp_ntz"  # precondition
    return df


def test_normalize_event_time_casts_only_ntz(ntz_events):
    out = normalize_event_time(ntz_events)
    assert dict(out.dtypes)["ts"] == "timestamp"
    # idempotent; non-ntz columns untouched
    again = normalize_event_time(out)
    assert again.schema == out.schema


def test_sessionize_batch_on_ntz_parquet(ntz_events):
    sessions = sessionize_batch(ntz_events, gap_minutes=30).collect()
    # 2 users x 2 sessions (2h gap splits), 3 events each
    assert len(sessions) == 4
    assert all(r.n_events == 3 for r in sessions)


def test_range_join_on_ntz_parquet(ntz_events):
    pairs = range_join(
        ntz_events, ntz_events, key="user_id", window_us=90 * 1_000_000
    ).collect()
    # within each 3-event burst: consecutive events 60s apart qualify
    assert len(pairs) == 8
    assert all(0 < r.gap_us <= 90 * 1_000_000 for r in pairs)


def test_asof_join_on_ntz_parquet_with_tolerance(ntz_events):
    clicks = ntz_events.where("event_type = 'click'")
    purchases = ntz_events.where("event_type = 'purchase'")
    out = asof_join_backward(
        clicks, purchases, key="user_id", tolerance_us=10 * 60 * 1_000_000
    )
    assert out.count() > 0


def test_windowed_counts_and_interval_join_on_ntz_parquet(ntz_events):
    assert windowed_event_counts(ntz_events).count() > 0
