"""Business-day calendar dimension.

Re-expresses the reference's calendar build (tcalendardays + tholidays,
onboarding/sql/dataset_setup.sql:430-513). The calendar is a bounded
dimension (3.65k rows per decade), so it is built on the driver and
handed to Spark as a local relation: queries over it start no job to
build it, and joins broadcast it without collecting it first.

- day sequence: every date in [start, end] (vs PostgreSQL
  generate_series, dataset_setup.sql:473);
- ``downum``: 0=Sunday..6=Saturday (EXTRACT(DOW), dataset_setup.sql:470);
- ``isbusday``: weekday (dataset_setup.sql:471);
- ``isholiday``: membership in the holiday set (the reference uses an
  IN-subquery against tholidays, dataset_setup.sql:481-483); a holiday
  DataFrame is collected to its distinct dates inside [start, end];
- ``previous_business_date``: the last earlier workday, carried by one
  running pass over the days (the reference's per-row correlated MAX,
  dataset_setup.sql:486-493).
"""

from __future__ import annotations

import datetime as dt
from collections.abc import Iterable

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

DOW_NAMES = ["Sunday", "Monday", "Tuesday", "Wednesday", "Thursday", "Friday", "Saturday"]

_CALENDAR = pa.schema([
    pa.field("fulldate", pa.date32(), False),
    pa.field("downum", pa.int64(), False),
    pa.field("downame", pa.string(), False),
    pa.field("isbusday", pa.bool_(), False),
    pa.field("isholiday", pa.bool_(), False),
    pa.field("previous_business_date", pa.date32()),
])


def build_calendar(
    spark: SparkSession,
    start: str,
    end: str,
    holidays: Iterable[str] | DataFrame = (),
) -> DataFrame:
    """Build the calendar dimension for [start, end] (inclusive).

    ``holidays`` is an iterable of ISO date strings or a DataFrame with
    a ``holiday_date`` column; repeated dates (one row per holiday
    name) and dates outside the range are ignored.
    """
    first, last = dt.date.fromisoformat(start), dt.date.fromisoformat(end)
    if isinstance(holidays, DataFrame):
        day = F.col("holiday_date").cast("date")
        hol = {r[0] for r in holidays.select(day).where(day.between(first, last)).collect()}
    else:
        hol = {dt.date.fromisoformat(h) for h in holidays}

    rows, prev = [], None
    for i in range((last - first).days + 1):
        d = first + dt.timedelta(days=i)
        downum = d.isoweekday() % 7  # ISO 7=Sunday → reference 0=Sunday
        isbusday, isholiday = downum not in (0, 6), d in hol
        rows.append(dict(fulldate=d, downum=downum, downame=DOW_NAMES[downum],
                         isbusday=isbusday, isholiday=isholiday, previous_business_date=prev))
        if isbusday and not isholiday:
            prev = d
    return spark.createDataFrame(pa.Table.from_pylist(rows, _CALENDAR))


def next_business_date(cal: DataFrame) -> DataFrame:
    """Add ``next_business_date`` (running MIN over the following window)."""
    w = W.orderBy("fulldate").rowsBetween(1, W.unboundedFollowing)
    return cal.withColumn(
        "next_business_date",
        F.min(F.when(F.col("isbusday") & ~F.col("isholiday"), F.col("fulldate"))).over(w),
    )


def asof_business_day(facts: DataFrame, cal: DataFrame, date_col: str, out_col: str) -> DataFrame:
    """Attach the previous business day for ``facts[date_col]`` via a
    broadcast equi-join — the scalable rewrite of the reference's
    correlated scalar subquery (create_f_get_event_changes.sql:17-22)."""
    lookup = cal.select(
        F.col("fulldate"), F.col("previous_business_date").alias(out_col)
    )
    return facts.join(F.broadcast(lookup), facts[date_col] == lookup.fulldate, "left").drop(
        "fulldate"
    )
