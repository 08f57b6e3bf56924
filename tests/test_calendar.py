import datetime as dt

import duckdb
import pytest

from etl_database_spark.calendar import asof_business_day, build_calendar, next_business_date
from etl_database_spark.queries.relational import HOLIDAYS


def test_calendar_shape_and_dow(spark):
    cal = build_calendar(spark, "2025-01-01", "2025-01-31", ["2025-01-01"]).collect()
    assert len(cal) == 31
    by_date = {r.fulldate: r for r in cal}
    # 2025-01-01 is a Wednesday
    assert by_date[dt.date(2025, 1, 1)].downum == 3
    assert by_date[dt.date(2025, 1, 1)].downame == "Wednesday"
    assert by_date[dt.date(2025, 1, 1)].isholiday
    assert by_date[dt.date(2025, 1, 4)].downum == 6  # Saturday
    assert not by_date[dt.date(2025, 1, 4)].isbusday


def test_previous_business_date_skips_weekends_and_holidays(spark):
    cal = build_calendar(spark, "2025-01-01", "2025-01-10", ["2025-01-01"])
    rows = {r.fulldate: r.previous_business_date for r in cal.collect()}
    # Jan 1 (holiday): no prior workday in range
    assert rows[dt.date(2025, 1, 1)] is None
    # Jan 2: previous workday would be Jan 1 but it's a holiday → None
    assert rows[dt.date(2025, 1, 2)] is None
    # Jan 3 → Jan 2; Monday Jan 6 → Friday Jan 3 (skips the weekend)
    assert rows[dt.date(2025, 1, 3)] == dt.date(2025, 1, 2)
    assert rows[dt.date(2025, 1, 6)] == dt.date(2025, 1, 3)


def test_previous_business_date_properties(spark):
    cal = build_calendar(spark, "2025-01-01", "2025-06-30", ["2025-01-01", "2025-05-26"])
    rows = cal.collect()
    by_date = {r.fulldate: r for r in rows}
    for r in rows:
        if r.previous_business_date is None:
            continue
        prev = by_date[r.previous_business_date]
        assert prev.isbusday and not prev.isholiday
        assert r.previous_business_date < r.fulldate
    # monotone: prev_busdate non-decreasing in fulldate
    seq = [r.previous_business_date for r in sorted(rows, key=lambda r: r.fulldate)]
    filtered = [d for d in seq if d is not None]
    assert filtered == sorted(filtered)


def test_next_business_date(spark):
    cal = next_business_date(build_calendar(spark, "2025-01-01", "2025-01-10", ["2025-01-01"]))
    rows = {r.fulldate: r.next_business_date for r in cal.collect()}
    assert rows[dt.date(2025, 1, 1)] == dt.date(2025, 1, 2)
    assert rows[dt.date(2025, 1, 4)] == dt.date(2025, 1, 6)  # Sat → Mon


def test_asof_business_day_join(spark):
    cal = build_calendar(spark, "2025-01-01", "2025-01-31", [])
    facts = spark.createDataFrame(
        [(1, dt.date(2025, 1, 6)), (2, dt.date(2025, 1, 12))], "id int, d date"
    )
    out = asof_business_day(facts, cal, "d", "prev_bd").orderBy("id").collect()
    assert out[0].prev_bd == dt.date(2025, 1, 3)
    assert out[1].prev_bd == dt.date(2025, 1, 10)


def test_duplicate_holiday_rows_do_not_duplicate_days(spark):
    """A holiday table with several rows per date (one per holiday
    name) must not duplicate calendar days."""
    from etl_database_spark.calendar import build_calendar

    hol = spark.createDataFrame(
        [("2024-01-01",), ("2024-01-01",)], "holiday_date string"
    )
    cal = build_calendar(spark, "2024-01-01", "2024-01-07", hol)
    assert cal.count() == 7
    assert cal.where("fulldate = DATE '2024-01-01'").count() == 1
    assert cal.where("isholiday").count() == 1


def _duckdb_calendar(start, end, holidays):
    """The calendar as the ``business_calendar`` oracle builds it:
    generate_series, DOW flags, holiday membership, running-max window."""
    con = duckdb.connect()
    con.execute("CREATE TABLE hol (h DATE)")
    if holidays:
        con.executemany("INSERT INTO hol VALUES (?)", [(h,) for h in holidays])
    return con.execute(f"""
        WITH cal AS (
          SELECT CAST(d AS DATE) AS fulldate,
                 CAST(EXTRACT(DOW FROM d) AS BIGINT) AS downum,
                 dayname(d) AS downame,
                 EXTRACT(DOW FROM d) NOT IN (0, 6) AS isbusday,
                 CAST(d AS DATE) IN (SELECT h FROM hol) AS isholiday
          FROM generate_series(TIMESTAMP '{start}', TIMESTAMP '{end}', INTERVAL 1 DAY) t(d)
        )
        SELECT *, MAX(CASE WHEN isbusday AND NOT isholiday THEN fulldate END)
                    OVER (ORDER BY fulldate ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                    AS previous_business_date
        FROM cal ORDER BY fulldate
    """).fetchall()


@pytest.mark.parametrize("start,end,holidays", [
    ("1994-12-20", "2001-12-31", HOLIDAYS),
    ("2000-01-01", "2000-03-31", HOLIDAYS),  # starts on a Saturday holiday
    ("1996-01-01", "1996-01-31", HOLIDAYS),  # starts on a Monday holiday
    ("1998-06-01", "1998-07-31", ["1990-07-04", "1998-07-03", "2010-01-01"]),  # some outside
    ("1998-06-01", "1998-07-31", ["1998-07-03", "1998-07-03", "1998-07-06"]),  # duplicates
    ("1998-06-01", "1998-07-31", []),
])
@pytest.mark.parametrize("as_frame", [False, True])
def test_calendar_matches_duckdb(spark, jobs_of, start, end, holidays, as_frame):
    """The driver-built calendar equals the SQL calendar row for row,
    from a holiday list (no Spark job) or a holiday DataFrame."""
    if as_frame:
        holidays = spark.createDataFrame([(h,) for h in holidays], "holiday_date string")
    cal, jobs = jobs_of(lambda: build_calendar(spark, start, end, holidays))
    if not as_frame:
        assert jobs == []
    want = _duckdb_calendar(start, end, [h[0] for h in holidays.collect()] if as_frame
                            else holidays)
    got = [tuple(r) for r in cal.orderBy("fulldate").collect()]
    assert got == want
    assert cal.columns == ["fulldate", "downum", "downame", "isbusday", "isholiday",
                           "previous_business_date"]
    assert want[0][-1] is None  # every case starts with no earlier workday
