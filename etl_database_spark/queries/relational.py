"""Relational operator inventory (SURVEY.md section 2) as named queries.

Each query re-expresses one operator family from the reference system
(xnlou/etl-database) against the driver's synthetic star schema, as
idiomatic Spark DataFrame code, paired with an ANSI-SQL DuckDB oracle.

Cross-engine determinism notes (applied throughout):

- **Float sums**: summing doubles is order-dependent, and Spark/DuckDB
  reduce in different orders. Every SUM over a double column first
  casts the addend to DECIMAL(18,6) — the double→decimal rounding is
  deterministic and identical in both engines, the decimal sum is
  exact, and the final CAST back to DOUBLE is exact — so the result is
  bit-identical regardless of partitioning. Averages are computed as
  exact-decimal-sum / count. This costs nothing at scale: decimal sums
  are still a single hash-aggregate with partial (map-side) combine.
- **Int sums**: DuckDB widens SUM(BIGINT) to HUGEINT; oracles CAST the
  result back to BIGINT to match Spark's LongType.
- **Top-k / row_number**: every ORDER BY inside a window carries a
  unique tie-break key so both engines pick identical rows.

Scale notes: only *schema-bounded* dimensions (region, nation, the
business calendar, 1-row scalar frames) carry an explicit
``broadcast()`` hint — see ``dim()`` below. Tables that grow with the
scale factor (customer/supplier/part) are passed unhinted: AQE picks a
broadcast join for them at small SF anyway, and at 100 TB the plan
degrades gracefully to a shuffle join instead of dying on a forced
terabyte broadcast. Aggregations are single-pass hash aggregates with
map-side partial combine (verified via .explain: HashAggregate
partial/final pairs).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from etl_database_spark.queries import register, table

# Decimal cast used for deterministic double aggregation (see module doc).
DEC = "decimal(18,6)"


def dsum(col, alias):
    """Deterministic double sum: decimal-exact accumulate, double result."""
    return F.sum(col.cast(DEC)).cast("double").alias(alias)


# Dimension-broadcast policy. Only tables whose cardinality is fixed by
# the SCHEMA may carry an unconditional broadcast hint: region (5 rows)
# and nation (25) never grow with the scale factor. customer, supplier,
# part, orders and lineitem all scale linearly with SF — at the 100 TB
# target customer alone is terabytes, and an explicit F.broadcast hint
# bypasses spark.sql.autoBroadcastJoinThreshold, so Spark would attempt
# the broadcast and fail outright (broadcast size cap / driver OOM)
# rather than fall back. Scaling tables are therefore passed through
# unhinted: AQE still chooses a broadcast join at small scale factors
# (measured size under the threshold — local plans unchanged) while the
# 100x plan degrades gracefully to a shuffle hash join. Same policy as
# the measured-size gates in functions/dedup._maybe_broadcast.
BOUNDED_DIMS = frozenset({"region", "nation"})


def dim(df: DataFrame, name: str) -> DataFrame:
    """Hint broadcast only for schema-bounded dimensions; scaling
    tables go to Catalyst/AQE unhinted (the scale-safe default)."""
    return F.broadcast(df) if name in BOUNDED_DIMS else df


# Shared fixed holiday list for business-day calendar queries
# (reference seeds holidays in dataset_setup.sql:416-419; here a fixed
# public-holiday-shaped list spanning the orders date range).
HOLIDAYS = [
    "1995-01-02", "1995-07-04", "1995-12-25",
    "1996-01-01", "1996-07-04", "1996-12-25",
    "1997-01-01", "1997-07-04", "1997-12-25",
    "1998-01-01", "1998-07-04", "1998-12-25",
    "1999-01-01", "1999-07-04", "1999-12-25",
    "2000-01-01", "2000-07-04", "2000-12-25",
    "2001-01-01", "2001-07-04", "2001-12-25",
]
_HOL_SQL = ", ".join(f"DATE '{h}'" for h in HOLIDAYS)


# ---------------------------------------------------------------------------
# A1/A2 — grouped aggregation (pricing summary, TPC-H Q1 shape).
# Reference: grouped MIN/MAX/aggregates, create_f_get_event_changes.sql:61-88.
@register(
    "pricing_summary",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sum_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) AS sum_base_price,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS sum_disc_price,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS avg_qty,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE CAST(l_shipdate AS DATE) <= DATE '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
)
def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash aggregate with map-side partial combine; the shipdate filter
    and 5-column projection push down into the parquet scan."""
    li = table(spark, sf_dir, "lineitem")
    return (
        li.where(F.to_date("l_shipdate") <= F.lit("1998-09-02").cast("date"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum(F.col("l_quantity"), "sum_qty"),
            dsum(F.col("l_extendedprice"), "sum_base_price"),
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "sum_disc_price"),
            (F.sum(F.col("l_quantity").cast(DEC)).cast("double") / F.count("*")).alias("avg_qty"),
            F.count("*").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


# ---------------------------------------------------------------------------
# J1 — multi-way equi-join fact→dims (lineage join shape, usefulqueries.sql:12-21)
@register(
    "regional_revenue",
    oracle="""
    SELECT r_name, n_name,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue,
           COUNT(*) AS n_items
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    GROUP BY r_name, n_name
    ORDER BY r_name, n_name
    """,
)
def regional_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact-fact join (lineitem-orders) shuffles on orderkey; the
    schema-bounded dims (nation, region) are broadcast, and customer —
    which scales with SF — is left to AQE (broadcast at small SF,
    shuffle join at 100 TB)."""
    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    n = table(spark, sf_dir, "nation")
    r = table(spark, sf_dir, "region")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(dim(c, "customer"), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"),
            F.count("*").alias("n_items"),
        )
        .orderBy("r_name", "n_name")
    )


# ---------------------------------------------------------------------------
# A3/J3 — global scalar MAX broadcast via cross join
# (MaxURLCheckDate pattern, create_f_get_event_changes.sql:37-43).
@register(
    "latest_window_orders",
    oracle="""
    WITH bounds AS (SELECT MAX(CAST(o_orderdate AS DATE)) AS max_date FROM orders)
    SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS total_price
    FROM orders, bounds
    WHERE CAST(o_orderdate AS DATE) > max_date - 90
    GROUP BY o_orderstatus, o_orderpriority
    ORDER BY o_orderstatus, o_orderpriority
    """,
)
def latest_window_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-row aggregate cross-joined (auto-broadcast: BroadcastNestedLoop
    over a single row) to window the fact table to the trailing 90 days."""
    o = table(spark, sf_dir, "orders").withColumn("od", F.to_date("o_orderdate"))
    bounds = o.agg(F.max("od").alias("max_date"))
    return (
        o.crossJoin(F.broadcast(bounds))
        .where(F.col("od") > F.date_sub(F.col("max_date"), 90))
        .groupBy("o_orderstatus", "o_orderpriority")
        .agg(F.count("*").alias("n_orders"), dsum(F.col("o_totalprice"), "total_price"))
        .orderBy("o_orderstatus", "o_orderpriority")
    )


# ---------------------------------------------------------------------------
# W1 — business-day calendar build: day sequence, DOW, holiday
# flagging, previous business day (dataset_setup.sql:430-513).
@register(
    "business_calendar",
    oracle=f"""
    WITH cal AS (
      SELECT CAST(d AS DATE) AS fulldate,
             CAST(EXTRACT(DOW FROM d) AS BIGINT) AS downum,
             EXTRACT(DOW FROM d) NOT IN (0, 6) AS isbusday,
             CAST(d AS DATE) IN ({_HOL_SQL}) AS isholiday
      FROM generate_series(TIMESTAMP '1995-01-01', TIMESTAMP '1995-12-31', INTERVAL 1 DAY) t(d)
    )
    SELECT * FROM (
      SELECT fulldate, downum, isbusday, isholiday,
             MAX(CASE WHEN isbusday AND NOT isholiday THEN fulldate END)
               OVER (ORDER BY fulldate ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS previous_business_date
      FROM cal
    ) WHERE previous_business_date IS NOT NULL
    ORDER BY fulldate
    """,
)
def business_calendar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar dimension via the library builder: a local relation
    built on the driver (one running pass for the previous business
    day), so the row starts no Spark job to build it. The calendar is
    bounded (~4k rows for a decade) however large the facts."""
    from etl_database_spark.calendar import build_calendar

    return (
        build_calendar(spark, "1995-01-01", "1995-12-31", HOLIDAYS)
        .select("fulldate", "downum", "isbusday", "isholiday", "previous_business_date")
        .where(F.col("previous_business_date").isNotNull())
    )


# ---------------------------------------------------------------------------
# J5/W1 — as-of previous-business-day lookup applied to fact dates
# (correlated-subquery shape, create_f_get_event_changes.sql:17-22,
# rewritten as calendar broadcast join — the scalable form).
@register(
    "orders_prev_busday",
    oracle=f"""
    WITH cal AS (
      SELECT CAST(d AS DATE) AS fulldate,
             EXTRACT(DOW FROM d) NOT IN (0, 6)
               AND CAST(d AS DATE) NOT IN ({_HOL_SQL}) AS isworkday
      FROM generate_series(TIMESTAMP '1994-12-20', TIMESTAMP '2001-12-31', INTERVAL 1 DAY) t(d)
    ),
    cal2 AS (
      SELECT fulldate,
             MAX(CASE WHEN isworkday THEN fulldate END)
               OVER (ORDER BY fulldate ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS previous_business_date
      FROM cal
    )
    SELECT CAST(o_orderdate AS DATE) AS order_date,
           previous_business_date,
           COUNT(*) AS n_orders
    FROM orders JOIN cal2 ON CAST(o_orderdate AS DATE) = fulldate
    GROUP BY order_date, previous_business_date
    ORDER BY order_date
    """,
)
def orders_prev_busday(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of lookup as a broadcast equi-join against the calendar dim —
    the 100 TB-safe rewrite of the reference's per-row correlated
    MAX(...) subquery: O(1) calendar rows broadcast, no per-row scan."""
    from etl_database_spark.calendar import build_calendar

    cal = build_calendar(spark, "1994-12-20", "2001-12-31", HOLIDAYS).select(
        "fulldate", "previous_business_date"
    )
    o = table(spark, sf_dir, "orders").withColumn("order_date", F.to_date("o_orderdate"))
    return (
        o.join(F.broadcast(cal), o.order_date == cal.fulldate)
        .groupBy("order_date", "previous_business_date")
        .agg(F.count("*").alias("n_orders"))
        .orderBy("order_date")
    )


# ---------------------------------------------------------------------------
# U1/U2 — EXCEPT / UNION set-ops (added/removed diff, usefulqueries.sql:30-53).
@register(
    "customer_churn_setops",
    oracle="""
    WITH cur AS (SELECT DISTINCT o_custkey AS custkey FROM orders
                 WHERE CAST(o_orderdate AS DATE) BETWEEN DATE '2000-01-01' AND DATE '2000-12-31'),
         prev AS (SELECT DISTINCT o_custkey AS custkey FROM orders
                  WHERE CAST(o_orderdate AS DATE) BETWEEN DATE '1999-01-01' AND DATE '1999-12-31')
    SELECT 'Added' AS change_type, custkey FROM (SELECT custkey FROM cur EXCEPT SELECT custkey FROM prev)
    UNION
    SELECT 'Removed' AS change_type, custkey FROM (SELECT custkey FROM prev EXCEPT SELECT custkey FROM cur)
    ORDER BY change_type, custkey
    """,
)
def customer_churn_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT-distinct via subtract; SQL UNION's implicit dedup is made
    explicit with .distinct() (Spark union is UNION ALL — SURVEY U2)."""
    o = table(spark, sf_dir, "orders").withColumn("od", F.to_date("o_orderdate"))
    cur = o.where(F.col("od").between("2000-01-01", "2000-12-31")).select(
        F.col("o_custkey").alias("custkey")
    ).distinct()
    prev = o.where(F.col("od").between("1999-01-01", "1999-12-31")).select(
        F.col("o_custkey").alias("custkey")
    ).distinct()
    added = cur.subtract(prev).select(F.lit("Added").alias("change_type"), "custkey")
    removed = prev.subtract(cur).select(F.lit("Removed").alias("change_type"), "custkey")
    return added.union(removed).distinct().orderBy("change_type", "custkey")


# ---------------------------------------------------------------------------
# J7 — anti join (NOT IN subquery shape).
@register(
    "customers_without_orders",
    oracle="""
    SELECT c_custkey, c_name, c_mktsegment
    FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    ORDER BY c_custkey
    """,
)
def customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-anti join; at scale the smaller distinct key-set side is
    aggregated before the join by Catalyst."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti")
        .select("c_custkey", "c_name", "c_mktsegment")
        .orderBy("c_custkey")
    )


# ---------------------------------------------------------------------------
# J6 — left-semi join (IN subquery shape, dataset_setup.sql:481-483).
@register(
    "suppliers_with_shipments",
    oracle="""
    SELECT s_suppkey, s_name, s_acctbal
    FROM supplier s
    WHERE EXISTS (SELECT 1 FROM lineitem l WHERE l.l_suppkey = s.s_suppkey)
    ORDER BY s_suppkey
    """,
)
def suppliers_with_shipments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi join — dedups the probe side inside the join, no
    post-join distinct needed."""
    s = table(spark, sf_dir, "supplier")
    li = table(spark, sf_dir, "lineitem")
    return (
        s.join(li, s.s_suppkey == li.l_suppkey, "left_semi")
        .select("s_suppkey", "s_name", "s_acctbal")
        .orderBy("s_suppkey")
    )


# ---------------------------------------------------------------------------
# J4/A6 — CASE-ladder classification + frequency count
# (scenario classifier, create_f_get_event_changes.sql:101-107).
@register(
    "order_tier_classification",
    oracle="""
    SELECT CASE WHEN o_totalprice >= 300000 THEN 'platinum'
                WHEN o_totalprice >= 150000 THEN 'gold'
                WHEN o_totalprice >= 50000  THEN 'silver'
                ELSE 'bronze' END AS tier,
           o_orderstatus,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS tier_value
    FROM orders
    GROUP BY tier, o_orderstatus
    ORDER BY tier, o_orderstatus
    """,
)
def order_tier_classification(spark: SparkSession, sf_dir: str) -> DataFrame:
    """when/otherwise ladder — the lateral-CASE shape J4 needs no
    lateral join in Spark, just a derived column."""
    o = table(spark, sf_dir, "orders")
    tier = (
        F.when(F.col("o_totalprice") >= 300000, "platinum")
        .when(F.col("o_totalprice") >= 150000, "gold")
        .when(F.col("o_totalprice") >= 50000, "silver")
        .otherwise("bronze")
    )
    return (
        o.withColumn("tier", tier)
        .groupBy("tier", "o_orderstatus")
        .agg(F.count("*").alias("n_orders"), dsum(F.col("o_totalprice"), "tier_value"))
        .orderBy("tier", "o_orderstatus")
    )


# ---------------------------------------------------------------------------
# JSON/P7 — semi-structured extraction (JSONB report-config shape,
# create_treportmanager.sql:31-33).
@register(
    "props_json_extract",
    oracle="""
    SELECT event_type,
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
           COUNT(*) AS n_events
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def props_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """get_json_object stays JVM-side (codegen'd Jackson parse) — no
    Python UDF for JSON at any scale."""
    ev = table(spark, sf_dir, "events")
    return (
        ev.withColumn("k", F.get_json_object("props", "$.k").cast("long"))
        .groupBy("event_type")
        .agg(F.sum("k").alias("sum_k"), F.count("*").alias("n_events"))
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# P6/P7 — regex predicate + extraction (filename/content regex shapes,
# generic_import.py:86-125, gmail_inbox_processor.py:83-103).
@register(
    "doc_first_word_stats",
    oracle="""
    SELECT regexp_extract(text, '^(\\w+)', 1) AS first_word,
           COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM documents
    WHERE text LIKE '%spark%'
    GROUP BY first_word
    ORDER BY first_word
    """,
)
def doc_first_word_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIKE predicate + regexp_extract, both JVM expressions."""
    d = table(spark, sf_dir, "documents")
    return (
        d.where(F.col("text").like("%spark%"))
        .withColumn("first_word", F.regexp_extract("text", r"^(\w+)", 1))
        .groupBy("first_word")
        .agg(F.count("*").alias("n_docs"), F.sum("n_chars").alias("total_chars"))
        .orderBy("first_word")
    )


# ---------------------------------------------------------------------------
# W2 — latest-snapshot-per-key window (single-active-dataset invariant,
# dataset_setup.sql:193-216 re-expressed as row_number).
@register(
    "latest_event_per_user",
    oracle="""
    SELECT user_id, event_id, ts, event_type
    FROM (
      SELECT user_id, event_id, ts, event_type,
             ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    ) WHERE rn = 1
    ORDER BY user_id
    """,
)
def latest_event_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partitioned window — shuffles once on user_id; deterministic
    tie-break on event_id."""
    ev = table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("user_id", "event_id", "ts", "event_type")
        .orderBy("user_id")
    )


# ---------------------------------------------------------------------------
# Top-k per group (extension past the reference; O1 ordering semantics).
@register(
    "top_orders_per_segment",
    oracle="""
    SELECT c_mktsegment, o_orderkey, o_totalprice
    FROM (
      SELECT c_mktsegment, o_orderkey, o_totalprice,
             ROW_NUMBER() OVER (PARTITION BY c_mktsegment
                                ORDER BY o_totalprice DESC, o_orderkey) AS rn
      FROM orders JOIN customer ON o_custkey = c_custkey
    ) WHERE rn <= 3
    ORDER BY c_mktsegment, rn
    """,
)
def top_orders_per_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k per group: rank inside partitions then filter — Spark
    pushes a per-partition top-k (WindowGroupLimit) before the shuffle."""
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    w = W.partitionBy("c_mktsegment").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (
        o.join(dim(c, "customer"), o.o_custkey == c.c_custkey)
        .select("c_mktsegment", "o_orderkey", "o_totalprice")
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 3)
        .select("c_mktsegment", "o_orderkey", "o_totalprice")
        .orderBy("c_mktsegment", F.desc("o_totalprice"), "o_orderkey")
    )


# ---------------------------------------------------------------------------
# A7/O1 — DISTINCT + multi-key ORDER BY (meetmax_url_download.py:60-81).
@register(
    "distinct_segment_status",
    oracle="""
    SELECT DISTINCT c_mktsegment, o_orderstatus
    FROM orders JOIN customer ON o_custkey = c_custkey
    ORDER BY c_mktsegment, o_orderstatus
    """,
)
def distinct_segment_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    return (
        o.join(dim(c, "customer"), o.o_custkey == c.c_custkey)
        .select("c_mktsegment", "o_orderstatus")
        .distinct()
        .orderBy("c_mktsegment", "o_orderstatus")
    )


# ---------------------------------------------------------------------------
# A2/2.8 — GROUP BY expression + string scalar functions
# (UPPER(COALESCE(...)) keys, create_f_get_event_changes.sql:77-87).
@register(
    "part_type_prefix_stats",
    oracle="""
    SELECT UPPER(TRIM(SUBSTRING(p_type, 1, 6))) AS type_prefix,
           COUNT(*) AS n_parts,
           CAST(SUM(CAST(p_retailprice AS DECIMAL(18,6))) AS DOUBLE) AS total_price,
           CAST(MAX(LENGTH(p_name)) AS BIGINT) AS max_name_len
    FROM part
    GROUP BY type_prefix
    ORDER BY type_prefix
    """,
)
def part_type_prefix_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Expression group-by key + upper/trim/substring/length scalar fns."""
    p = table(spark, sf_dir, "part")
    return (
        p.groupBy(F.upper(F.trim(F.substring("p_type", 1, 6))).alias("type_prefix"))
        .agg(
            F.count("*").alias("n_parts"),
            dsum(F.col("p_retailprice"), "total_price"),
            F.max(F.length("p_name")).cast("long").alias("max_name_len"),
        )
        .orderBy("type_prefix")
    )


# ---------------------------------------------------------------------------
# P9/P5 — IN-list + BETWEEN predicates (usefulqueries.sql:160-163).
@register(
    "inlist_between_revenue",
    oracle="""
    SELECT l_suppkey,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue,
           COUNT(*) AS n_items
    FROM lineitem
    WHERE l_suppkey IN (1, 3, 5, 7)
      AND CAST(l_shipdate AS DATE) BETWEEN DATE '1996-01-01' AND DATE '1997-12-31'
    GROUP BY l_suppkey
    ORDER BY l_suppkey
    """,
)
def inlist_between_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """isin + between are pushed to the parquet scan (PushedFilters)."""
    li = table(spark, sf_dir, "lineitem")
    return (
        li.where(
            F.col("l_suppkey").isin(1, 3, 5, 7)
            & F.to_date("l_shipdate").between("1996-01-01", "1997-12-31")
        )
        .groupBy("l_suppkey")
        .agg(
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"),
            F.count("*").alias("n_items"),
        )
        .orderBy("l_suppkey")
    )


# ---------------------------------------------------------------------------
# P10 — COALESCE projection over nullable join output
# (6-way COALESCE shape, usefulqueries.sql:3-11).
@register(
    "coalesce_recent_status",
    oracle="""
    SELECT c_mktsegment,
           COALESCE(o_orderstatus, 'NO_RECENT_ORDER') AS status_or_none,
           COUNT(*) AS n_customers
    FROM customer
    LEFT JOIN (SELECT DISTINCT o_custkey, o_orderstatus FROM orders
               WHERE CAST(o_orderdate AS DATE) >= DATE '2001-01-01') recent
      ON c_custkey = o_custkey
    GROUP BY c_mktsegment, status_or_none
    ORDER BY c_mktsegment, status_or_none
    """,
)
def coalesce_recent_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    recent = (
        o.where(F.to_date("o_orderdate") >= F.lit("2001-01-01").cast("date"))
        .select("o_custkey", "o_orderstatus")
        .distinct()
    )
    return (
        c.join(recent, c.c_custkey == recent.o_custkey, "left")
        .withColumn("status_or_none", F.coalesce("o_orderstatus", F.lit("NO_RECENT_ORDER")))
        .groupBy("c_mktsegment", "status_or_none")
        .agg(F.count("*").alias("n_customers"))
        .orderBy("c_mktsegment", "status_or_none")
    )


# ---------------------------------------------------------------------------
# J5 — correlated scalar subquery kept in SQL form (Catalyst decorrelates;
# create_f_get_event_changes.sql:17-22 shape).
@register(
    "above_nation_avg_balance",
    oracle="""
    SELECT c_custkey, c_name, c_acctbal
    FROM customer c
    WHERE c_acctbal > (SELECT AVG(c2.c_acctbal) FROM customer c2
                       WHERE c2.c_nationkey = c.c_nationkey)
    ORDER BY c_custkey
    """,
)
def above_nation_avg_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subquery via spark.sql — Catalyst's subquery
    decorrelation rewrites it to an aggregate + join, so the physical
    plan is one shuffle, not a per-row probe."""
    table(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    return spark.sql(
        """
        SELECT c_custkey, c_name, c_acctbal
        FROM customer c
        WHERE c_acctbal > (SELECT AVG(c2.c_acctbal) FROM customer c2
                           WHERE c2.c_nationkey = c.c_nationkey)
        ORDER BY c_custkey
        """
    )


# ---------------------------------------------------------------------------
# A6 — value_counts (meetmax_url_download.py:99).
@register(
    "event_type_counts",
    oracle="""
    SELECT event_type, COUNT(*) AS n, COUNT(DISTINCT user_id) AS n_users
    FROM events GROUP BY event_type ORDER BY n DESC, event_type
    """,
)
def event_type_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(F.count("*").alias("n"), F.countDistinct("user_id").alias("n_users"))
        .orderBy(F.desc("n"), "event_type")
    )


# ---------------------------------------------------------------------------
# A5 — max-string-length width profiling (generic_import.py:183-193).
@register(
    "document_width_profile",
    oracle="""
    SELECT CAST(MAX(LENGTH(text)) AS BIGINT) AS text_width,
           CAST(MAX(LENGTH(lang)) AS BIGINT) AS lang_width,
           CAST(MAX(LENGTH(source)) AS BIGINT) AS source_width,
           COUNT(*) AS n_rows
    FROM documents
    """,
)
def document_width_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-pass multi-column width profile — one aggregate over one
    scan, vs the reference's per-column pandas passes."""
    d = table(spark, sf_dir, "documents")
    return d.agg(
        F.max(F.length("text")).cast("long").alias("text_width"),
        F.max(F.length("lang")).cast("long").alias("lang_width"),
        F.max(F.length("source")).cast("long").alias("source_width"),
        F.count("*").alias("n_rows"),
    )


# ---------------------------------------------------------------------------
# 2.8 date functions — EXTRACT/year-month rollup of order dates.
@register(
    "orders_by_month",
    oracle="""
    SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS BIGINT) AS order_year,
           CAST(EXTRACT(MONTH FROM o_orderdate) AS BIGINT) AS order_month,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS month_value
    FROM orders
    GROUP BY order_year, order_month
    ORDER BY order_year, order_month
    """,
)
def orders_by_month(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    return (
        o.groupBy(
            F.year("o_orderdate").cast("long").alias("order_year"),
            F.month("o_orderdate").cast("long").alias("order_month"),
        )
        .agg(F.count("*").alias("n_orders"), dsum(F.col("o_totalprice"), "month_value"))
        .orderBy("order_year", "order_month")
    )


# ---------------------------------------------------------------------------
# U2 — UNION with dedup across two derived sets.
@register(
    "nations_union",
    oracle="""
    SELECT n_name FROM nation JOIN region ON n_regionkey = r_regionkey
    WHERE r_name = (SELECT MIN(r_name) FROM region)
    UNION
    SELECT n_name FROM nation WHERE EXISTS
      (SELECT 1 FROM supplier WHERE s_nationkey = n_nationkey)
    ORDER BY n_name
    """,
)
def nations_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    n = table(spark, sf_dir, "nation")
    r = table(spark, sf_dir, "region")
    s = table(spark, sf_dir, "supplier")
    first_region = r.agg(F.min("r_name").alias("r_name"))
    a = (
        n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .join(F.broadcast(first_region), "r_name", "left_semi")
        .select("n_name")
    )
    b = n.join(s, n.n_nationkey == s.s_nationkey, "left_semi").select("n_name")
    return a.union(b).distinct().orderBy("n_name")


# ---------------------------------------------------------------------------
# §2.9 — event-time tumbling-window aggregation (batch form of the
# streaming operator; the stream variant adds a watermark — see
# streaming/windowed.py and tests/test_streaming.py for equivalence).
@register(
    "windowed_event_counts",
    oracle="""
    SELECT date_trunc('hour', ts) AS window_start,
           date_trunc('hour', ts) + INTERVAL 1 HOUR AS window_end,
           event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
    FROM events
    GROUP BY window_start, window_end, event_type
    ORDER BY window_start, event_type
    """,
)
def windowed_event_counts_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_database_spark.streaming.windowed import windowed_event_counts

    ev = table(spark, sf_dir, "events")
    return windowed_event_counts(ev, "1 hour").orderBy("window_start", "event_type")


# ---------------------------------------------------------------------------
# §2.9 stateful shape — sessionization (batch form; the streaming
# variant is applyInPandasWithState, tested for equivalence in
# tests/test_streaming.py).
@register(
    "user_sessions",
    oracle="""
    WITH flagged AS (
      SELECT user_id, ts, value,
             CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                  OR epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY user_id ORDER BY ts))
                     > 30 * 60 * 1000000
                  THEN 1 ELSE 0 END AS new_session
      FROM events
    ),
    s AS (
      SELECT user_id, ts, value,
             SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                    ROWS UNBOUNDED PRECEDING) AS session_id
      FROM flagged
    )
    SELECT user_id,
           MIN(ts) AS session_start,
           MAX(ts) AS session_end,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
    FROM s
    GROUP BY user_id, session_id
    ORDER BY user_id, session_start
    """,
)
def user_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_database_spark.streaming.sessions import sessionize_batch

    ev = table(spark, sf_dir, "events")
    return sessionize_batch(ev, gap_minutes=30).orderBy("user_id", "session_start")


# ---------------------------------------------------------------------------
# TPC-H Q3 shape — shipping-priority join + top-10 by revenue.
@register(
    "shipping_priority",
    oracle="""
    SELECT l_orderkey,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue,
           CAST(o_orderdate AS DATE) AS order_date,
           o_orderpriority
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND CAST(o_orderdate AS DATE) < DATE '1998-03-15'
      AND CAST(l_shipdate AS DATE) > DATE '1998-03-15'
    GROUP BY l_orderkey, order_date, o_orderpriority
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
)
def shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Selective dimension filter broadcasts; both fact filters push to
    the scans; top-10 via TakeOrderedAndProject (no global sort)."""
    c = table(spark, sf_dir, "customer").where(F.col("c_mktsegment") == "BUILDING")
    o = table(spark, sf_dir, "orders").where(
        F.to_date("o_orderdate") < F.lit("1998-03-15").cast("date")
    )
    li = table(spark, sf_dir, "lineitem").where(
        F.to_date("l_shipdate") > F.lit("1998-03-15").cast("date")
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(dim(c, "customer"), o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey", F.to_date("o_orderdate").alias("order_date"), "o_orderpriority")
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"))
        .select("l_orderkey", "revenue", "order_date", "o_orderpriority")
        .orderBy(F.desc("revenue"), "l_orderkey")
        .limit(10)
    )


# ---------------------------------------------------------------------------
# TPC-H Q10 shape — returned-item customers ranked by lost revenue.
@register(
    "returned_item_customers",
    oracle="""
    SELECT c_custkey, c_name, n_name,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS lost_revenue,
           COUNT(*) AS n_returned_items
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN nation   ON c_nationkey = n_nationkey
    WHERE l_returnflag = 'R'
    GROUP BY c_custkey, c_name, n_name
    ORDER BY lost_revenue DESC, c_custkey
    LIMIT 20
    """,
)
def returned_item_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Returnflag filter pushes to the lineitem scan; nation broadcast;
    top-20 avoids a full sort."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem").where(F.col("l_returnflag") == "R")
    n = table(spark, sf_dir, "nation")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(dim(c, "customer"), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "lost_revenue"),
            F.count("*").alias("n_returned_items"),
        )
        .orderBy(F.desc("lost_revenue"), "c_custkey")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Skew-resilient aggregation: salted two-phase sum — results must be
# bit-identical to the plain aggregate (decimal-sum determinism), which
# the oracle verifies with a plain SQL GROUP BY.
@register(
    "salted_revenue_by_suppkey",
    oracle="""
    SELECT l_suppkey,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) AS total,
           COUNT(*) AS n_rows
    FROM lineitem
    GROUP BY l_suppkey
    ORDER BY l_suppkey
    """,
)
def salted_revenue_by_suppkey(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase salted aggregation (operators.skew) against the plain
    SQL aggregate — proves salting preserves exact results while
    spreading a hot key over many reducers."""
    from etl_database_spark.operators.skew import salted_sum_count

    li = table(spark, sf_dir, "lineitem")
    return salted_sum_count(
        li, ["l_suppkey"], "l_extendedprice", num_salts=16, unique_col="l_orderkey"
    ).orderBy("l_suppkey")


# ---------------------------------------------------------------------------
# Pivot (cross-tab) — orderstatus counts per segment as columns.
@register(
    "segment_status_pivot",
    oracle="""
    SELECT c_mktsegment,
           COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS F,
           COUNT(*) FILTER (WHERE o_orderstatus = 'O') AS O,
           COUNT(*) FILTER (WHERE o_orderstatus = 'P') AS P
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_mktsegment
    ORDER BY c_mktsegment
    """,
)
def segment_status_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot with explicit value list (no extra pass to discover
    values); absent combinations filled to 0 to match SQL FILTER."""
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    return (
        o.join(dim(c, "customer"), o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .count()
        .na.fill(0)
        .orderBy("c_mktsegment")
    )


# ---------------------------------------------------------------------------
# ROLLUP — region/nation revenue with subtotals and a grand total.
@register(
    "rollup_revenue",
    oracle="""
    SELECT COALESCE(r_name, 'ALL') AS region,
           COALESCE(n_name, 'ALL') AS nation,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS revenue,
           COUNT(*) AS n_orders
    FROM orders
    JOIN customer ON o_custkey = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    GROUP BY ROLLUP (r_name, n_name)
    ORDER BY region, nation
    """,
)
def rollup_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rollup() grouping sets — subtotal rows labeled 'ALL' (portable
    null-free output)."""
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    n = table(spark, sf_dir, "nation")
    r = table(spark, sf_dir, "region")
    return (
        o.join(dim(c, "customer"), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .rollup("r_name", "n_name")
        .agg(dsum(F.col("o_totalprice"), "revenue"), F.count("*").alias("n_orders"))
        .select(
            F.coalesce("r_name", F.lit("ALL")).alias("region"),
            F.coalesce("n_name", F.lit("ALL")).alias("nation"),
            "revenue",
            "n_orders",
        )
        .orderBy("region", "nation")
    )


# ---------------------------------------------------------------------------
# Exact distinct counts per group (COUNT(DISTINCT) — expand-based in
# Spark, two-level aggregate; approx_count_distinct is the sketch
# alternative when 2% error is acceptable at 100 TB).
@register(
    "nation_distinct_parts",
    oracle="""
    SELECT n_name,
           COUNT(DISTINCT l_partkey) AS n_parts,
           COUNT(DISTINCT l_suppkey) AS n_suppliers,
           COUNT(*) AS n_items
    FROM lineitem
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation   ON s_nationkey = n_nationkey
    GROUP BY n_name
    ORDER BY n_name
    """,
)
def nation_distinct_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    s = table(spark, sf_dir, "supplier")
    n = table(spark, sf_dir, "nation")
    return (
        li.join(dim(s, "supplier"), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.countDistinct("l_partkey").alias("n_parts"),
            F.countDistinct("l_suppkey").alias("n_suppliers"),
            F.count("*").alias("n_items"),
        )
        .orderBy("n_name")
    )


# ---------------------------------------------------------------------------
# Exact percentiles without interpolation-definition drift: the p-th
# percentile = smallest value whose rank ≥ ceil(p·n) — identical
# row_number selection in both engines.
@register(
    "price_percentiles",
    oracle="""
    WITH ranked AS (
      SELECT o_orderstatus, o_totalprice,
             ROW_NUMBER() OVER (PARTITION BY o_orderstatus
                                ORDER BY o_totalprice, o_orderkey) AS rn,
             COUNT(*) OVER (PARTITION BY o_orderstatus) AS n
      FROM orders
    )
    SELECT o_orderstatus,
           MIN(CASE WHEN rn >= CAST(CEIL(0.50 * n) AS BIGINT) THEN o_totalprice END) AS p50,
           MIN(CASE WHEN rn >= CAST(CEIL(0.90 * n) AS BIGINT) THEN o_totalprice END) AS p90,
           MIN(CASE WHEN rn >= CAST(CEIL(0.99 * n) AS BIGINT) THEN o_totalprice END) AS p99
    FROM ranked
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
    """,
)
def price_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact nearest-rank percentiles via a single window + conditional
    MIN — one shuffle; at 100 TB swap for approx_percentile when the
    sketch error is acceptable."""
    o = table(spark, sf_dir, "orders")
    w = W.partitionBy("o_orderstatus").orderBy("o_totalprice", "o_orderkey")
    wn = W.partitionBy("o_orderstatus")
    ranked = o.withColumn("rn", F.row_number().over(w)).withColumn(
        "n", F.count("*").over(wn)
    )
    def pick(p, alias):
        return F.min(
            F.when(F.col("rn") >= F.ceil(F.lit(p) * F.col("n")).cast("long"), F.col("o_totalprice"))
        ).alias(alias)
    return (
        ranked.groupBy("o_orderstatus")
        .agg(pick(0.50, "p50"), pick(0.90, "p90"), pick(0.99, "p99"))
        .orderBy("o_orderstatus")
    )


# ---------------------------------------------------------------------------
# As-of (point-in-time) join — each click paired with the user's most
# recent prior-or-simultaneous purchase. DuckDB's native ASOF JOIN is
# the oracle; the Spark implementation is the union+carry-forward
# window (operators/asof.py), one shuffle on the key.
@register(
    "clicks_last_purchase_asof",
    oracle="""
    SELECT c.event_id, c.user_id, c.ts AS click_ts,
           p.ts AS purchase_ts, p.value AS purchase_value
    FROM (SELECT * FROM events WHERE event_type = 'click') c
    ASOF JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
      ON c.user_id = p.user_id AND c.ts >= p.ts
    ORDER BY c.event_id
    """,
)
def clicks_last_purchase_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_database_spark.operators.asof import asof_join_backward

    ev = table(spark, sf_dir, "events")
    clicks = ev.where(F.col("event_type") == "click").select("event_id", "user_id", "ts")
    purchases = ev.where(F.col("event_type") == "purchase").select("user_id", "ts", "value")
    return (
        asof_join_backward(clicks, purchases, "user_id", right_cols=["value"])
        .select(
            "event_id",
            "user_id",
            F.col("ts").alias("click_ts"),
            F.col("ts_right").alias("purchase_ts"),
            F.col("value_right").alias("purchase_value"),
        )
        .orderBy("event_id")
    )


# ---------------------------------------------------------------------------
# Range (interval) join — error events within 10 minutes after a click
# by the same user. Banded-bucket equi-join (operators/asof.py) vs the
# oracle's plain inequality join.
@register(
    "click_error_range_join",
    oracle="""
    SELECT c.user_id, c.event_id AS left_id, e.event_id AS right_id,
           epoch_us(c.ts) - epoch_us(e.ts) AS gap_us
    FROM (SELECT * FROM events WHERE event_type = 'error') c
    JOIN (SELECT * FROM events WHERE event_type = 'click') e
      ON c.user_id = e.user_id
     AND epoch_us(c.ts) > epoch_us(e.ts)
     AND epoch_us(c.ts) - epoch_us(e.ts) <= 600000000
    ORDER BY c.user_id, left_id, right_id
    """,
)
def click_error_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_database_spark.operators.asof import range_join

    ev = table(spark, sf_dir, "events")
    errors = ev.where(F.col("event_type") == "error")
    clicks = ev.where(F.col("event_type") == "click")
    return range_join(errors, clicks, "user_id", window_us=600_000_000).orderBy(
        "user_id", "left_id", "right_id"
    )


# ---------------------------------------------------------------------------
# §2.8 string-function showcase — concat_ws / split / substring /
# length / upper / trim in one projection (the reference's string
# normalization vocabulary, SURVEY §2.8).
@register(
    "supplier_labels",
    oracle="""
    SELECT s_suppkey,
           CONCAT_WS('|', UPPER(TRIM(s_name)), n_name,
                     SUBSTRING(n_name, 1, 3)) AS label,
           CAST(LENGTH(s_name) AS BIGINT) AS name_len,
           SPLIT_PART(s_name, '#', 2) AS name_num
    FROM supplier JOIN nation ON s_nationkey = n_nationkey
    ORDER BY s_suppkey
    """,
)
def supplier_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = table(spark, sf_dir, "supplier")
    n = table(spark, sf_dir, "nation")
    return (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .select(
            "s_suppkey",
            F.concat_ws(
                "|", F.upper(F.trim("s_name")), F.col("n_name"), F.substring("n_name", 1, 3)
            ).alias("label"),
            F.length("s_name").cast("long").alias("name_len"),
            # try_element_at: under ANSI mode (Spark 4 default) a name
            # with no '#' would make element_at throw; SPLIT_PART in
            # the oracle yields '' for the missing field instead.
            F.coalesce(
                F.try_element_at(F.split("s_name", "#"), F.lit(2)), F.lit("")
            ).alias("name_num"),
        )
        .orderBy("s_suppkey")
    )


# ---------------------------------------------------------------------------
# Sketch path: approx_count_distinct (HLL++) — rows-only (sketch values
# are engine-specific); the error bound vs exact NDV is asserted in
# tests/test_plans.py's sibling check below via pytest.
@register("approx_distinct_parts")
def approx_distinct_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL++ NDV per returnflag — the O(1)-memory alternative to
    COUNT(DISTINCT)'s expand at 100 TB (rsd 2%)."""
    li = table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.approx_count_distinct("l_partkey", 0.02).alias("approx_parts"),
            F.count("*").alias("n_rows"),
        )
        .orderBy("l_returnflag")
    )


# ---------------------------------------------------------------------------
# §2.8 date arithmetic — ship latency (datediff) per priority, plus a
# date_add-derived commit deadline bucket.
@register(
    "ship_latency_by_priority",
    oracle="""
    SELECT o_orderpriority,
           CAST(SUM(DATEDIFF('day', CAST(o_orderdate AS DATE), CAST(l_shipdate AS DATE))) AS BIGINT)
             AS total_latency_days,
           COUNT(*) AS n_items,
           CAST(MAX(DATEDIFF('day', CAST(o_orderdate AS DATE), CAST(l_shipdate AS DATE))) AS BIGINT)
             AS max_latency_days,
           CAST(COUNT(*) FILTER (WHERE CAST(l_shipdate AS DATE) > CAST(o_orderdate AS DATE) + 60)
                AS BIGINT) AS n_late
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)
def ship_latency_by_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """datediff / date_add arithmetic fully JVM-side; integer-day sums
    need no decimal trick."""
    li = table(spark, sf_dir, "lineitem").withColumn("sd", F.to_date("l_shipdate"))
    o = table(spark, sf_dir, "orders").withColumn("od", F.to_date("o_orderdate"))
    latency = F.datediff("sd", "od")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.sum(latency).cast("long").alias("total_latency_days"),
            F.count("*").alias("n_items"),
            F.max(latency).cast("long").alias("max_latency_days"),
            F.sum((F.col("sd") > F.date_add("od", 60)).cast("long")).alias("n_late"),
        )
        .orderBy("o_orderpriority")
    )


# ---------------------------------------------------------------------------
# Window-function breadth — running (cumulative) revenue per customer
# plus a lag() day-over-day delta. Cumulative double sums are made
# engine-deterministic the same way as grouped sums: the window SUM
# accumulates DECIMAL(18,6) (exact, order-insensitive) and casts the
# result back to DOUBLE. The window ORDER BY carries o_orderkey as a
# unique tie-break so lag() picks identical rows in both engines.
# Scale: one shuffle on o_custkey; the running frame is computed
# within each partition with no extra exchange.
@register(
    "customer_running_revenue",
    oracle="""
    SELECT o_custkey, o_orderkey,
           CAST(o_orderdate AS DATE) AS order_date,
           o_totalprice,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) OVER (
                  PARTITION BY o_custkey
                  ORDER BY CAST(o_orderdate AS DATE), o_orderkey
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                ) AS DOUBLE) AS running_spend,
           COALESCE(LAG(o_totalprice) OVER (
                  PARTITION BY o_custkey
                  ORDER BY CAST(o_orderdate AS DATE), o_orderkey
                ), 0.0) AS prev_price
    FROM orders
    ORDER BY o_custkey, order_date, o_orderkey
    """,
)
def customer_running_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running total + lag over a per-customer window (SURVEY §2
    window family: cumulative frames, offset functions)."""
    o = table(spark, sf_dir, "orders").withColumn("order_date", F.to_date("o_orderdate"))
    w = W.partitionBy("o_custkey").orderBy("order_date", "o_orderkey")
    running = (
        F.sum(F.col("o_totalprice").cast(DEC))
        .over(w.rowsBetween(W.unboundedPreceding, W.currentRow))
        .cast("double")
    )
    return (
        o.select(
            "o_custkey",
            "o_orderkey",
            "order_date",
            "o_totalprice",
            running.alias("running_spend"),
            F.coalesce(F.lag("o_totalprice").over(w), F.lit(0.0)).alias("prev_price"),
        )
        .orderBy("o_custkey", "order_date", "o_orderkey")
    )


# ---------------------------------------------------------------------------
# ntile() quartiles — bucket customers by lifetime spend into 4 tiles,
# then profile each tile. The ntile ORDER BY carries c_custkey as the
# unique tie-break so tile assignment is identical across engines.
# Scale: the per-customer aggregate shuffles once; the single global
# ntile window runs over customer-grain rows (|customers| ≪ |orders|),
# the standard two-level pattern for global ranking at scale.
@register(
    "customer_spend_quartiles",
    oracle="""
    WITH spend AS (
      SELECT o_custkey,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS total_spend,
             COUNT(*) AS n_orders
      FROM orders GROUP BY o_custkey
    ),
    tiled AS (
      SELECT *, NTILE(4) OVER (ORDER BY total_spend DESC, o_custkey) AS quartile
      FROM spend
    )
    SELECT quartile,
           COUNT(*) AS n_customers,
           CAST(SUM(n_orders) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(total_spend AS DECIMAL(18,6))) AS DOUBLE) AS quartile_spend,
           MIN(total_spend) AS min_spend,
           MAX(total_spend) AS max_spend
    FROM tiled
    GROUP BY quartile
    ORDER BY quartile
    """,
)
def customer_spend_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ntile(4) over per-customer lifetime spend → per-quartile profile."""
    from etl_database_spark.functions.rank import exact_ntile

    o = table(spark, sf_dir, "orders")
    spend = o.groupBy("o_custkey").agg(
        dsum(F.col("o_totalprice"), "total_spend"), F.count("*").alias("n_orders")
    )
    # exact distributed ntile (partition-offset rank) — identical to
    # NTILE(4) OVER (ORDER BY ...) but never a single-partition window
    tiled = exact_ntile(spend, 4, [F.desc("total_spend"), F.asc("o_custkey")], "quartile")
    return (
        tiled.groupBy("quartile")
        .agg(
            F.count("*").alias("n_customers"),
            F.sum("n_orders").cast("long").alias("n_orders"),
            dsum(F.col("total_spend"), "quartile_spend"),
            F.min("total_spend").alias("min_spend"),
            F.max("total_spend").alias("max_spend"),
        )
        .orderBy("quartile")
    )


# ---------------------------------------------------------------------------
# TPC-H Q11 shape — suppliers whose revenue share exceeds a fraction of
# the global total (HAVING against a scalar subquery). Spark: two
# aggregates sharing one scan lineage + a 1-row broadcast cross join;
# the fraction filter then runs map-side. Reference analog: threshold
# reports over aggregated imports.
@register(
    "top_value_suppliers",
    oracle="""
    WITH rev AS (
      SELECT l_suppkey,
             CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE)
               AS supplier_revenue
      FROM lineitem GROUP BY l_suppkey
    ),
    total AS (
      SELECT CAST(SUM(CAST(supplier_revenue AS DECIMAL(18,6))) AS DOUBLE) AS total_revenue
      FROM rev
    )
    SELECT s_suppkey, s_name, supplier_revenue
    FROM rev JOIN supplier ON l_suppkey = s_suppkey, total
    WHERE supplier_revenue > 0.0015 * total_revenue
    ORDER BY supplier_revenue DESC, s_suppkey
    """,
)
def top_value_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HAVING-vs-global-scalar (Q11 shape): per-supplier revenue above
    0.15% of the corpus total."""
    li = table(spark, sf_dir, "lineitem")
    s = table(spark, sf_dir, "supplier")
    rev = li.groupBy("l_suppkey").agg(
        dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "supplier_revenue")
    )
    total = rev.agg(dsum(F.col("supplier_revenue"), "total_revenue"))
    return (
        rev.join(dim(s, "supplier"), rev.l_suppkey == s.s_suppkey)
        .join(F.broadcast(total))
        .where(F.col("supplier_revenue") > 0.0015 * F.col("total_revenue"))
        .select("s_suppkey", "s_name", "supplier_revenue")
        .orderBy(F.desc("supplier_revenue"), "s_suppkey")
    )


# ---------------------------------------------------------------------------
# TPC-H Q22 shape — high-balance customers in a nation IN-list with no
# recent orders, balance above the positive-balance average of the same pool
# (scalar subquery + anti-join + final rollup by nation). The average
# is exact-decimal-sum / count, the anti-join is a broadcast-able
# left_anti on o_custkey.
@register(
    "high_balance_inactive_customers",
    oracle="""
    WITH pool AS (
      SELECT * FROM customer WHERE c_nationkey IN (3, 8, 13, 17, 22)
    ),
    thresh AS (
      SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS avg_bal
      FROM pool WHERE c_acctbal > 0.0
    )
    SELECT c_nationkey,
           COUNT(*) AS n_customers,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(18,6))) AS DOUBLE) AS total_acctbal
    FROM pool, thresh
    WHERE c_acctbal > avg_bal
      AND NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey
                        AND CAST(o_orderdate AS DATE) >= DATE '2000-01-01')
    GROUP BY c_nationkey
    ORDER BY c_nationkey
    """,
)
def high_balance_inactive_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q22 shape: IN-list filter, scalar positive-average threshold,
    NOT EXISTS anti-join against recent orders, grouped output. The
    anti-join side is pre-filtered to the recent window BEFORE the
    join, so at scale the anti-join probes a pruned fraction of the
    fact table (the date predicate pushes to the parquet scan)."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    pool = c.where(F.col("c_nationkey").isin(3, 8, 13, 17, 22))
    thresh = pool.where(F.col("c_acctbal") > 0.0).agg(
        (F.sum(F.col("c_acctbal").cast(DEC)).cast("double") / F.count("*")).alias("avg_bal")
    )
    recent = o.where(F.to_date("o_orderdate") >= F.lit("2000-01-01").cast("date"))
    return (
        pool.join(F.broadcast(thresh))
        .where(F.col("c_acctbal") > F.col("avg_bal"))
        .join(recent.select("o_custkey"), pool.c_custkey == F.col("o_custkey"), "left_anti")
        .groupBy("c_nationkey")
        .agg(
            F.count("*").alias("n_customers"),
            dsum(F.col("c_acctbal"), "total_acctbal"),
        )
        .orderBy("c_nationkey")
    )


# ---------------------------------------------------------------------------
# CUBE grouping sets — doc counts over (lang, source) with all four
# grouping combinations, labels null-free via COALESCE. Complements
# rollup_revenue (which exercises the hierarchical subset).
@register(
    "cube_doc_counts",
    oracle="""
    SELECT COALESCE(lang, 'ALL') AS lang_g,
           COALESCE(source, 'ALL') AS source_g,
           COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM documents
    GROUP BY CUBE (lang, source)
    ORDER BY lang_g, source_g
    """,
)
def cube_doc_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """cube() over (lang, source): every grouping-set combination in
    one pass (Spark expands to a single shuffle)."""
    d = table(spark, sf_dir, "documents")
    return (
        d.cube("lang", "source")
        .agg(F.count("*").alias("n_docs"), F.sum("n_chars").cast("long").alias("total_chars"))
        .select(
            F.coalesce("lang", F.lit("ALL")).alias("lang_g"),
            F.coalesce("source", F.lit("ALL")).alias("source_g"),
            "n_docs",
            "total_chars",
        )
        .orderBy("lang_g", "source_g")
    )


# ---------------------------------------------------------------------------
# Statistical aggregates — correlation / stddev per group. Naive
# corr()/stddev() accumulate doubles in partition order (engine- and
# partitioning-dependent), so both sides compute from exact decimal
# moment sums (Σx, Σy, Σx², Σy², Σxy — wide DECIMAL(38,6) to hold the
# squared magnitudes) and apply the closed-form moment formulas as a
# fixed sequence of IEEE double ops. Same single-shuffle hash
# aggregate as a plain sum at any scale.
_MOM = "decimal(38,6)"


@register(
    "price_quantity_stats",
    oracle="""
    WITH m AS (
      SELECT l_returnflag,
             COUNT(*) AS n,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,6))) AS DOUBLE) AS sx,
             CAST(SUM(CAST(l_quantity      AS DECIMAL(38,6))) AS DOUBLE) AS sy,
             CAST(SUM(CAST(l_extendedprice * l_extendedprice AS DECIMAL(38,6))) AS DOUBLE) AS sxx,
             CAST(SUM(CAST(l_quantity * l_quantity           AS DECIMAL(38,6))) AS DOUBLE) AS syy,
             CAST(SUM(CAST(l_extendedprice * l_quantity      AS DECIMAL(38,6))) AS DOUBLE) AS sxy
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag,
           CAST(n AS BIGINT) AS n_items,
           ROUND(SQRT((sxx - sx * sx / n) / (n - 1)), 6) AS price_stddev,
           ROUND((sxy - sx * sy / n)
                 / (SQRT(sxx - sx * sx / n) * SQRT(syy - sy * sy / n)), 6)
             AS price_qty_corr
    FROM m ORDER BY l_returnflag
    """,
)
def price_quantity_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample stddev + Pearson correlation per return flag via exact
    decimal moment sums (engine-portable, one shuffle)."""
    li = table(spark, sf_dir, "lineitem")
    x, y = F.col("l_extendedprice"), F.col("l_quantity")
    m = li.groupBy("l_returnflag").agg(
        F.count("*").alias("n"),
        F.sum(x.cast(_MOM)).cast("double").alias("sx"),
        F.sum(y.cast(_MOM)).cast("double").alias("sy"),
        F.sum((x * x).cast(_MOM)).cast("double").alias("sxx"),
        F.sum((y * y).cast(_MOM)).cast("double").alias("syy"),
        F.sum((x * y).cast(_MOM)).cast("double").alias("sxy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxx, syy, sxy = F.col("sxx"), F.col("syy"), F.col("sxy")
    return (
        m.select(
            "l_returnflag",
            n.cast("long").alias("n_items"),
            F.round(F.sqrt((sxx - sx * sx / n) / (n - 1)), 6).alias("price_stddev"),
            F.round(
                (sxy - sx * sy / n)
                / (F.sqrt(sxx - sx * sx / n) * F.sqrt(syy - sy * sy / n)),
                6,
            ).alias("price_qty_corr"),
        )
        .orderBy("l_returnflag")
    )


# ---------------------------------------------------------------------------
# Fixed-width histogram — bucket order totals into integer bins
# (width_bucket analog via exact integer floor-division on cents).
# Pure projection + one aggregate; the cents conversion keeps the
# bin edges engine-exact (no float floor drift).
_HIST_WIDTH_CENTS = 50_000_00  # $50k bins


@register(
    "order_price_histogram",
    oracle=f"""
    SELECT CAST(CAST(ROUND(o_totalprice * 100) AS BIGINT) // {_HIST_WIDTH_CENTS} AS BIGINT) AS bin,
           COUNT(*) AS n_orders,
           MIN(o_totalprice) AS min_price,
           MAX(o_totalprice) AS max_price
    FROM orders
    GROUP BY bin
    ORDER BY bin
    """,
)
def order_price_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """$50k-wide histogram of order totals (integer cents binning)."""
    o = table(spark, sf_dir, "orders")
    # explicit round-to-nearest on BOTH engines: a bare double→long
    # cast truncates in Spark but rounds in DuckDB, so prices whose
    # cents value sits fractionally below a bin edge would diverge.
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    bin_col = ((cents - F.pmod(cents, F.lit(_HIST_WIDTH_CENTS))) / _HIST_WIDTH_CENTS).cast(
        "long"
    )
    return (
        o.groupBy(bin_col.alias("bin"))
        .agg(
            F.count("*").alias("n_orders"),
            F.min("o_totalprice").alias("min_price"),
            F.max("o_totalprice").alias("max_price"),
        )
        .orderBy("bin")
    )


# ---------------------------------------------------------------------------
# FULL OUTER join reconciliation — per-day click vs purchase event
# counts; days present on either side survive with zero-filled gaps.
# The outer join runs on pre-aggregated day-grain frames (two partial
# aggregates, then a join of two small keyed sets — never a raw
# fact-fact outer join).
@register(
    "daily_click_purchase_recon",
    oracle="""
    WITH c AS (
      SELECT CAST(ts AS DATE) AS d, COUNT(*) AS n_clicks
      FROM events WHERE event_type = 'click' GROUP BY d
    ),
    p AS (
      SELECT CAST(ts AS DATE) AS d, COUNT(*) AS n_purchases
      FROM events WHERE event_type = 'purchase' GROUP BY d
    )
    SELECT COALESCE(c.d, p.d) AS day,
           CAST(COALESCE(n_clicks, 0) AS BIGINT) AS n_clicks,
           CAST(COALESCE(n_purchases, 0) AS BIGINT) AS n_purchases,
           CAST(COALESCE(n_clicks, 0) - COALESCE(n_purchases, 0) AS BIGINT) AS gap
    FROM c FULL OUTER JOIN p ON c.d = p.d
    ORDER BY day
    """,
)
def daily_click_purchase_recon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-outer reconciliation of two event subsets at day grain."""
    ev = table(spark, sf_dir, "events").withColumn("d", F.to_date("ts"))
    c = ev.where(F.col("event_type") == "click").groupBy("d").agg(
        F.count("*").alias("n_clicks")
    )
    p = ev.where(F.col("event_type") == "purchase").groupBy("d").agg(
        F.count("*").alias("n_purchases")
    )
    nc = F.coalesce("n_clicks", F.lit(0)).cast("long")
    np_ = F.coalesce("n_purchases", F.lit(0)).cast("long")
    return (
        c.join(p, "d", "full_outer")
        .select(
            F.col("d").alias("day"),
            nc.alias("n_clicks"),
            np_.alias("n_purchases"),
            (nc - np_).cast("long").alias("gap"),
        )
        .orderBy("day")
    )


# ---------------------------------------------------------------------------
# UNPIVOT / melt — wide per-segment metrics to long (metric, value)
# rows via stack(); the inverse of segment_status_pivot. Unpivot is a
# generator projection (no shuffle beyond the source aggregate).
@register(
    "segment_metrics_unpivot",
    oracle="""
    WITH wide AS (
      SELECT c_mktsegment,
             COUNT(*) AS n_customers,
             CAST(COUNT(*) FILTER (WHERE c_acctbal > 5000) AS BIGINT) AS n_high_balance,
             CAST(COUNT(*) FILTER (WHERE c_acctbal < 0) AS BIGINT) AS n_negative
      FROM customer GROUP BY c_mktsegment
    )
    SELECT c_mktsegment, metric, val
    FROM wide
    UNPIVOT (val FOR metric IN (n_customers, n_high_balance, n_negative))
    ORDER BY c_mktsegment, metric
    """,
)
def segment_metrics_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """stack()-based unpivot of a wide customer-segment profile."""
    c = table(spark, sf_dir, "customer")
    wide = c.groupBy("c_mktsegment").agg(
        F.count("*").alias("n_customers"),
        F.sum((F.col("c_acctbal") > 5000).cast("long")).alias("n_high_balance"),
        F.sum((F.col("c_acctbal") < 0).cast("long")).alias("n_negative"),
    )
    return (
        wide.select(
            "c_mktsegment",
            F.expr(
                "stack(3, 'n_customers', n_customers, "
                "'n_high_balance', n_high_balance, "
                "'n_negative', n_negative) AS (metric, val)"
            ),
        )
        .orderBy("c_mktsegment", "metric")
    )


# ---------------------------------------------------------------------------
# Time-series gap-fill — daily purchase totals on a complete date
# spine with last-observation-carried-forward. The spine is a
# sequence/explode over the [min, max] date bounds (one 1-row
# aggregate broadcast — never a driver-side loop), the fill is a
# single ignore-nulls last() window. Scale: the spine is tiny
# (days × types); the carry-forward window partitions by type.
@register(
    "daily_purchase_gapfill",
    oracle="""
    WITH bounds AS (
      SELECT MIN(CAST(ts AS DATE)) AS d0, MAX(CAST(ts AS DATE)) AS d1 FROM events
    ),
    spine AS (
      SELECT unnest(generate_series(d0, d1, INTERVAL 1 DAY))::DATE AS day FROM bounds
    ),
    daily AS (
      SELECT CAST(ts AS DATE) AS day,
             CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS day_value,
             COUNT(*) AS n_events
      FROM events WHERE event_type = 'purchase' GROUP BY day
    )
    SELECT spine.day,
           CAST(COALESCE(n_events, 0) AS BIGINT) AS n_events,
           COALESCE(day_value, 0.0) AS day_value,
           COALESCE(
             LAST_VALUE(day_value IGNORE NULLS) OVER (
               ORDER BY spine.day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
             0.0) AS carried_value,
           CASE WHEN daily.day IS NULL THEN 1 ELSE 0 END AS is_gap
    FROM spine LEFT JOIN daily ON spine.day = daily.day
    ORDER BY spine.day
    """,
)
def daily_purchase_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Complete-date-spine daily totals with carry-forward fill
    (sequence+explode spine, ignore-nulls last() window)."""
    ev = table(spark, sf_dir, "events")
    bounds = ev.agg(
        F.min(F.to_date("ts")).alias("d0"), F.max(F.to_date("ts")).alias("d1")
    )
    spine = bounds.select(
        F.explode(F.sequence("d0", "d1", F.expr("interval 1 day"))).alias("day")
    )
    daily = (
        ev.where(F.col("event_type") == "purchase")
        .groupBy(F.to_date("ts").alias("day"))
        .agg(
            dsum(F.col("value"), "day_value"),
            F.count("*").alias("n_events"),
        )
    )
    w = W.orderBy("day").rowsBetween(W.unboundedPreceding, W.currentRow)
    return (
        spine.join(daily.withColumnRenamed("day", "dday"), spine.day == F.col("dday"), "left")
        .select(
            "day",
            F.coalesce("n_events", F.lit(0)).cast("long").alias("n_events"),
            F.coalesce("day_value", F.lit(0.0)).alias("day_value"),
            F.coalesce(
                F.last("day_value", ignorenulls=True).over(w), F.lit(0.0)
            ).alias("carried_value"),
            F.when(F.col("dday").isNull(), 1).otherwise(0).alias("is_gap"),
        )
        .orderBy("day")
    )


# ---------------------------------------------------------------------------
# Column profile — null rate / NDV / bounds for a table in ONE pass
# (the reference's stats-snapshot procedure surface as a query;
# maintenance.py holds the procedural form). COUNT(DISTINCT) over two
# columns expands once; at 100 TB swap to approx_count_distinct.
@register(
    "orders_profile",
    oracle="""
    SELECT COUNT(*) AS n_rows,
           CAST(COUNT(*) FILTER (WHERE o_orderstatus IS NULL) AS BIGINT) AS null_status,
           CAST(COUNT(DISTINCT o_orderstatus) AS BIGINT) AS ndv_status,
           CAST(COUNT(DISTINCT o_orderpriority) AS BIGINT) AS ndv_priority,
           MIN(o_totalprice) AS min_price,
           MAX(o_totalprice) AS max_price,
           CAST(MIN(CAST(o_orderdate AS DATE)) AS DATE) AS min_date,
           CAST(MAX(CAST(o_orderdate AS DATE)) AS DATE) AS max_date
    FROM orders
    """,
)
def orders_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-pass column profile (nulls, NDV, bounds) of orders."""
    o = table(spark, sf_dir, "orders")
    return o.agg(
        F.count("*").alias("n_rows"),
        F.sum(F.col("o_orderstatus").isNull().cast("long")).alias("null_status"),
        F.countDistinct("o_orderstatus").alias("ndv_status"),
        F.countDistinct("o_orderpriority").alias("ndv_priority"),
        F.min("o_totalprice").alias("min_price"),
        F.max("o_totalprice").alias("max_price"),
        F.min(F.to_date("o_orderdate")).alias("min_date"),
        F.max(F.to_date("o_orderdate")).alias("max_date"),
    )


# ---------------------------------------------------------------------------
# Sketch quantiles — percentile_approx per priority (the O(1)-memory
# KLL/GK path for 100 TB where exact percentile_disc's full sort is
# not viable; price_percentiles holds the exact form). Rows-only:
# sketch internals are engine-specific, accuracy is pinned by a
# rank-error test against the exact result (tests/test_plans.py).
@register("approx_price_percentiles")
def approx_price_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate p25/p50/p75/p95 of o_totalprice per priority."""
    o = table(spark, sf_dir, "orders")
    pct = F.percentile_approx(
        "o_totalprice", [0.25, 0.5, 0.75, 0.95], 10_000
    )
    return (
        o.groupBy("o_orderpriority")
        .agg(pct.alias("p"), F.count("*").alias("n_orders"))
        .select(
            "o_orderpriority",
            F.col("p")[0].alias("p25"),
            F.col("p")[1].alias("p50"),
            F.col("p")[2].alias("p75"),
            F.col("p")[3].alias("p95"),
            "n_orders",
        )
        .orderBy("o_orderpriority")
    )


# ---------------------------------------------------------------------------
# Multi-level aggregation: ROLLUP and CUBE (grouping sets). The
# reference reports stack per-group and grand-total queries as separate
# passes (systemscripts report SQL); grouping sets compute every level
# in ONE scan — at 100 TB this is the difference between k passes over
# the fact table and one. Grouped-out keys are coalesced to 'ALL' so
# the output stays null-free (cross-engine null rendering, ROADMAP),
# and the grouping bitmask is carried explicitly (Spark grouping_id ==
# DuckDB GROUPING, both MSB-first in column order — verified 0/1/3 on
# ROLLUP, 0..3 on CUBE).
_ROLLUP_ORACLE = """
    SELECT COALESCE(r_name, 'ALL') AS region,
           COALESCE(n_name, 'ALL') AS nation,
           CAST(GROUPING(r_name, n_name) AS BIGINT) AS lvl,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS revenue
    FROM orders
    JOIN customer ON o_custkey = c_custkey
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY ROLLUP (r_name, n_name)
    ORDER BY lvl, region, nation
    """


@register("revenue_rollup_region_nation", oracle=_ROLLUP_ORACLE)
def revenue_rollup_region_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order revenue at nation, region, and grand-total grain in one
    scan via ROLLUP; schema-bounded dims broadcast, fact unhinted."""
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    j = (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .join(dim(table(spark, sf_dir, "nation"), "nation"), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(dim(table(spark, sf_dir, "region"), "region"), F.col("n_regionkey") == F.col("r_regionkey"))
    )
    rolled = j.rollup("r_name", "n_name").agg(
        F.grouping_id().alias("gid"),
        F.count("*").cast("long").alias("n_orders"),
        dsum(F.col("o_totalprice"), "revenue"),
    )
    return rolled.select(
        F.coalesce("r_name", F.lit("ALL")).alias("region"),
        F.coalesce("n_name", F.lit("ALL")).alias("nation"),
        F.col("gid").cast("long").alias("lvl"),
        "n_orders",
        "revenue",
    ).orderBy("lvl", "region", "nation")


_CUBE_ORACLE = """
    SELECT COALESCE(c_mktsegment, 'ALL') AS segment,
           COALESCE(o_orderpriority, 'ALL') AS priority,
           CAST(GROUPING(c_mktsegment, o_orderpriority) AS BIGINT) AS lvl,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS revenue
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY CUBE (c_mktsegment, o_orderpriority)
    ORDER BY lvl, segment, priority
    """


@register("orders_cube_segment_priority", oracle=_CUBE_ORACLE)
def orders_cube_segment_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All four aggregation grains of (segment x priority) in one scan
    via CUBE — segment totals, priority totals, cells, grand total."""
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    j = o.join(c, o["o_custkey"] == c["c_custkey"])
    cubed = j.cube("c_mktsegment", "o_orderpriority").agg(
        F.grouping_id().alias("gid"),
        F.count("*").cast("long").alias("n_orders"),
        dsum(F.col("o_totalprice"), "revenue"),
    )
    return cubed.select(
        F.coalesce("c_mktsegment", F.lit("ALL")).alias("segment"),
        F.coalesce("o_orderpriority", F.lit("ALL")).alias("priority"),
        F.col("gid").cast("long").alias("lvl"),
        "n_orders",
        "revenue",
    ).orderBy("lvl", "segment", "priority")


# ---------------------------------------------------------------------------
# Full analytic window-function family in one pass: rank, dense_rank,
# ntile, percent_rank, cume_dist, lag, lead over a single
# (priority)-partitioned ordering — one shuffle serves all seven.
# percent_rank/cume_dist are exact small-integer ratios ((r-1)/(n-1),
# r/n) so the IEEE division is bit-identical cross-engine; the ORDER
# BY carries o_orderkey as the unique tie-break (repo convention);
# lag/lead defaults are 0.0 to keep the frame null-free.
_WINRANK_ORACLE = """
    SELECT o_orderkey, o_orderpriority, o_totalprice,
           CAST(rank() OVER w AS BIGINT) AS rnk,
           CAST(dense_rank() OVER w AS BIGINT) AS drnk,
           CAST(ntile(4) OVER w AS BIGINT) AS quartile,
           percent_rank() OVER w AS pct_rank,
           cume_dist() OVER w AS cdist,
           COALESCE(lag(o_totalprice, 1) OVER w, 0) AS prev_price,
           COALESCE(lead(o_totalprice, 1) OVER w, 0) AS next_price
    FROM orders
    WHERE o_orderdate >= DATE '1995-01-01' AND o_orderdate < DATE '1995-04-01'
    WINDOW w AS (PARTITION BY o_orderpriority
                 ORDER BY o_totalprice, o_orderkey)
    ORDER BY o_orderpriority, rnk
    """


@register("order_value_window_ranks", oracle=_WINRANK_ORACLE)
def order_value_window_ranks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seven ranking/offset window functions over one partitioned sort
    of Q1-1995 orders — a single exchange computes the lot."""
    o = table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= "1995-01-01") & (F.col("o_orderdate") < "1995-04-01")
    )
    w = W.partitionBy("o_orderpriority").orderBy("o_totalprice", "o_orderkey")
    return o.select(
        "o_orderkey",
        "o_orderpriority",
        "o_totalprice",
        F.rank().over(w).cast("long").alias("rnk"),
        F.dense_rank().over(w).cast("long").alias("drnk"),
        F.ntile(4).over(w).cast("long").alias("quartile"),
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cdist"),
        F.coalesce(F.lag("o_totalprice", 1).over(w), F.lit(0.0)).alias("prev_price"),
        F.coalesce(F.lead("o_totalprice", 1).over(w), F.lit(0.0)).alias("next_price"),
    ).orderBy("o_orderpriority", "rnk")


# ---------------------------------------------------------------------------
# Data-quality integrity audit — the dbt-style test battery as ONE
# query: referential orphans (anti-join), key uniqueness, null and
# domain violations, each a count row. The reference gates these
# per-file at ingest (content-validation, SURVEY P8); this is the
# warehouse-level audit over already-loaded tables. Each check is an
# independent aggregate; the union is rows, not columns, so adding a
# check never changes the schema.
_INTEGRITY_ORACLE = """
    SELECT 'orphan_orders' AS check_name,
           CAST(COUNT(*) AS BIGINT) AS n_violations
    FROM orders WHERE o_custkey NOT IN (SELECT c_custkey FROM customer)
    UNION ALL
    SELECT 'duplicate_customer_keys',
           CAST(COALESCE(SUM(n - 1), 0) AS BIGINT)
    FROM (SELECT c_custkey, COUNT(*) AS n FROM customer GROUP BY 1 HAVING COUNT(*) > 1)
    UNION ALL
    SELECT 'null_order_dates', CAST(COUNT(*) AS BIGINT)
    FROM orders WHERE o_orderdate IS NULL
    UNION ALL
    SELECT 'nonpositive_totalprice', CAST(COUNT(*) AS BIGINT)
    FROM orders WHERE o_totalprice <= 0
    UNION ALL
    SELECT 'lineitem_orphans', CAST(COUNT(*) AS BIGINT)
    FROM lineitem WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders)
    UNION ALL
    SELECT 'ship_before_order', CAST(COUNT(*) AS BIGINT)
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    WHERE l_shipdate < o_orderdate
    ORDER BY check_name
    """


@register("integrity_audit", oracle=_INTEGRITY_ORACLE)
def integrity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Six-check referential/uniqueness/domain audit in one result
    frame (check_name, n_violations)."""
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    li = table(spark, sf_dir, "lineitem")

    def row(name, df):
        return df.agg(F.count("*").cast("long").alias("n_violations")).select(
            F.lit(name).alias("check_name"), "n_violations"
        )

    orphans = row("orphan_orders", o.join(c, o["o_custkey"] == c["c_custkey"], "left_anti"))
    dup_keys = (
        c.groupBy("c_custkey")
        .count()
        .where(F.col("count") > 1)
        .agg(F.coalesce(F.sum(F.col("count") - 1), F.lit(0)).cast("long").alias("n_violations"))
        .select(F.lit("duplicate_customer_keys").alias("check_name"), "n_violations")
    )
    null_dates = row("null_order_dates", o.where(F.col("o_orderdate").isNull()))
    nonpos = row("nonpositive_totalprice", o.where(F.col("o_totalprice") <= 0))
    li_orphans = row(
        "lineitem_orphans", li.join(o, li["l_orderkey"] == o["o_orderkey"], "left_anti")
    )
    ship_before = row(
        "ship_before_order",
        li.join(o, li["l_orderkey"] == o["o_orderkey"]).where(
            F.col("l_shipdate") < F.col("o_orderdate")
        ),
    )
    return (
        orphans.unionByName(dup_keys)
        .unionByName(null_dates)
        .unionByName(nonpos)
        .unionByName(li_orphans)
        .unionByName(ship_before)
        .orderBy("check_name")
    )
