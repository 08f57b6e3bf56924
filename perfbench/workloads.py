"""The three benchmark workloads.

Each workload has the same life cycle, driven by ``run.py``:

- ``generate()`` writes its seeded inputs (repeatable: the same files);
- ``bootstrap()`` builds the state the timed cycles start from, warming
  the JVM on the same code paths;
- ``cycle(k)`` runs one timed cycle and returns the input rows it landed,
  served or maintained. Cycles are not alike (tables and stores grow), so a
  run always times the same cycle positions, ``0 .. n-1``;
- ``check()`` returns the list of output problems (empty when correct);
- ``stored_ratio()`` is bytes on disk under the workload's tables and
  stores per byte of the generated input they hold.

Every file import, report query and store ingest, replay, retraction,
compaction or serve is one operation in ``attempted`` / ``failed``.
Calls into the program go through ``self.tracer.span`` so a traced run
can time them; internal calls are wrapped by ``patch_program``.
"""

from __future__ import annotations

import csv
import datetime as dt
import io
import os
import shutil
import traceback
from decimal import Decimal

from pyspark.sql import functions as F

from perfbench import gen
from perfbench.trace import Tracer

# registry functions the tracer wraps; active() only reads
REGISTRY_WRITES = ("register_snapshot", "register_snapshots", "set_status", "ensure_type",
                   "ensure_source")
REGISTRY_FUNCS = REGISTRY_WRITES + ("active",)


def patch_program(tracer: Tracer) -> None:
    """Wrap the program's public functions that other program code calls,
    so their time and Spark work get spans of their own."""
    from etl_database_spark import ingest, maintenance, registry, reports
    from etl_database_spark.operators.edgestore import EdgeStore
    from etl_database_spark.operators.rollup import RollupStore
    from etl_database_spark.sources import excel

    for fn in REGISTRY_FUNCS:
        tracer.patch(registry.DatasetRegistry, fn, f"registry.{fn}")
    tracer.patch(ingest.ImportJob, "run_file", "ingest.run_file")
    tracer.patch(ingest.TargetTable, "append", "ingest.append", path_of=lambda a: a[0].path)
    tracer.patch(ingest.TargetTable, "maybe_compact", "maintenance.maybe_compact")
    tracer.patch(maintenance, "compact_table", "maintenance.compact_table",
                 path_of=lambda a: a[1])
    tracer.patch(excel, "excel_to_csv", "sources.excel_to_csv")
    tracer.patch(reports, "render_report", "reports.render_report",
                 on_return=lambda out, rec: rec.update(rows=_rendered_rows(out)))
    for store, label, serve in ((EdgeStore, "edgestore", "edges"),
                                (RollupStore, "rollup", "serve")):
        for fn in ("ingest", "retract", "compact"):
            tracer.patch(store, fn, f"operators.{label}.{fn}", path_of=lambda a: a[0].path)
        # the serve span itself also covers the collect (CorpusMaintenance.cycle)
        tracer.patch(store, serve, f"operators.{label}.plan")


def _rendered_rows(rendered) -> int:
    """Data rows in a rendered report's CSV attachments."""
    return sum(max(t.count("\n") - 1, 0) for t in rendered.attachments.values())


class Workload:
    name = ""
    CYCLE_S: float  # one cycle's wall time on the reference host

    def __init__(self, spark, work: str, seed: int, tracer: Tracer):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.tracer = tracer
        self.inputs = os.path.join(work, "inputs")
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.detail: dict = {}

    def op(self, fn, *args, **kwargs):
        """Run one counted operation; a raised error counts as failed."""
        self.attempted += 1
        try:
            return fn(*args, **kwargs)
        except Exception:  # noqa: BLE001 - the run must report, not crash
            self.failed += 1
            self.errors.append(traceback.format_exc(limit=3))
            return None

    def prepare(self, k: int) -> None:
        """Untimed work before cycle ``k`` (input generation past the
        pre-generated days)."""


# -- feed_ingest --------------------------------------------------------------


FEED_SQL = """
WITH act AS (SELECT datasetid FROM feed_datasets WHERE label IN ({labels})),
cur AS (SELECT DISTINCT user_id FROM feed_events e JOIN act a ON e.datasetid = a.datasetid
        WHERE e.datasetdate = DATE '{cur}'),
prev AS (SELECT DISTINCT user_id FROM feed_events e JOIN act a ON e.datasetid = a.datasetid
         WHERE e.datasetdate = DATE '{prev}')
SELECT 'Added' AS scenario, COUNT(*) AS users
FROM (SELECT user_id FROM cur EXCEPT SELECT user_id FROM prev) added
UNION ALL
SELECT 'Removed' AS scenario, COUNT(*) AS users
FROM (SELECT user_id FROM prev EXCEPT SELECT user_id FROM cur) removed
"""


class FeedIngest(Workload):
    """One delivery day per cycle through ``ImportJob.run``: today's events
    from two sources (one CSV each, with a strategy-1 ``Channel`` column
    from the first timed day on), a corrected redelivery of yesterday's web
    events that supersedes its snapshot and fires the events table's
    compaction gate, today's orders (XLSX) and an invalid alerts file that
    must land as ``Empty``. Then a change-detection report renders over the
    active snapshots."""

    name = "feed_ingest"
    CYCLE_S = 8.5
    PREGEN_DAYS = 2  # later days are generated by prepare(), outside the timing

    def generate(self) -> None:
        shutil.rmtree(self.inputs, ignore_errors=True)
        self.truth: dict[int, dict] = {}
        for day in range(self.PREGEN_DAYS):
            self._gen_day(day)

    def _gen_day(self, day: int) -> None:
        self.truth[day] = gen.feed_day(os.path.join(self.inputs, f"day{day:03d}"), self.seed,
                                       day, redeliver=day > 0, drift=day > 0)

    def bootstrap(self) -> None:
        from etl_database_spark.ingest import ImportConfig
        from etl_database_spark.metadata import MetadataSpec
        from etl_database_spark.registry import DatasetRegistry

        self.watch = os.path.join(self.work, "watch")
        self.data = os.path.join(self.work, "tables")
        os.makedirs(self.watch, exist_ok=True)
        self.registry = DatasetRegistry(self.spark, os.path.join(self.work, "registry"))
        meta = MetadataSpec(label_location="0", date_location="1", date_format="%Y%m%d")
        archive = os.path.join(self.work, "archive")
        self.configs = [
            ImportConfig("events", self.watch, archive,
                         rf"({'|'.join(gen.EVENT_SOURCES)})_\d{{8}}\.csv", "events",
                         datasettype="events", metadata=meta, compact_max_files=1),
            ImportConfig("orders", self.watch, archive, r"orders_\d{8}\.xlsx", "orders",
                         file_type="XLSX", datasettype="orders", metadata=meta),
            ImportConfig("alerts", self.watch, archive, r"alerts_\d{8}\.csv", "alerts",
                         datasettype="alerts", metadata=meta),
        ]
        self.results: list[tuple[int, object]] = []
        self.reports: list[tuple[int, object]] = []
        self._deliver(0)
        self.delivered = 1

    def _deliver(self, day: int) -> int:
        from etl_database_spark import reports
        from etl_database_spark.ingest import ImportJob, TargetTable

        src = os.path.join(self.inputs, f"day{day:03d}")
        for f in sorted(os.listdir(src)):
            shutil.copy(os.path.join(src, f), os.path.join(self.watch, f))
        rows = 0
        for cfg in self.configs:
            job = ImportJob(self.spark, cfg, self.registry, self.data)
            with self.tracer.span("ingest.run", config=cfg.config_name):
                results = job.run()
            for r in results:
                self.attempted += 1
                self.failed += r.status == "Failed"
                self.results.append((day, r))
                rows += r.rows if r.status == "Active" else 0
        if day > 0:
            events = TargetTable(self.spark, self.data, "events").read()
            events.createOrReplaceTempView("feed_events")
            self.registry.active().createOrReplaceTempView("feed_datasets")
            cur, prev = gen.feed_date(day), gen.feed_date(day - 1)
            labels = ", ".join(f"'{src}'" for src in gen.EVENT_SOURCES)
            cfg = reports.ReportConfig(
                report_id=day, report_name="event_changes", subject=f"Event changes {cur}",
                recipients=["ops@example.com"], body_template="<h1>Event changes</h1>",
                attachment_queries=[{"name": "changes",
                                     "query": FEED_SQL.format(cur=cur, prev=prev,
                                                              labels=labels)}],
            )
            rendered = self.op(reports.render_report, self.spark, cfg)
            if rendered is not None:
                self.failed += bool(rendered.errors)
                self.reports.append((day, rendered))
        return rows

    def prepare(self, k: int) -> None:
        if self.delivered not in self.truth:
            self._gen_day(self.delivered)

    def cycle(self, k: int) -> int:
        rows = self._deliver(self.delivered)
        self.delivered += 1
        return rows

    def check(self) -> list[str]:
        from etl_database_spark.ingest import TargetTable
        from etl_database_spark.registry import STATUS_ID

        problems = []
        # the last delivery of each (label, date) after each day
        final: dict[tuple[str, dt.date], dict] = {}
        users_after: dict[int, dict[dt.date, set]] = {}
        for day in range(self.delivered):
            final.update(self.truth[day])
            users_after[day] = {}
            for (label, date), t in final.items():
                if label in gen.EVENT_SOURCES:
                    users_after[day].setdefault(date, set()).update(t["users"])
        ds = self.registry.datasets().select(
            "datasetid", "datasetdate", "label", "datasettypeid", "datastatusid", "isactive"
        ).toPandas()
        active = ds[ds.isactive]
        dup = active.groupby(["label", "datasettypeid", "datasetdate"]).size()
        if (dup > 1).any():
            problems.append(f"keys with several active datasets: {list(dup[dup > 1].index)}")
        landed = {}
        for name in ("events", "orders"):
            counts = TargetTable(self.spark, self.data, name).read().groupBy("datasetid").count()
            landed.update({r["datasetid"]: r["count"] for r in counts.collect()})
        for (label, date), t in final.items():
            rows = ds[(ds.label == label) & (ds.datasetdate == date)]
            act = rows[rows.isactive]
            if t.get("invalid"):
                if len(act) or (rows.datastatusid != STATUS_ID["Empty"]).any():
                    problems.append(f"invalid delivery {label} {date} did not land as Empty")
                continue
            if len(act) != 1:
                problems.append(f"{label} {date}: {len(act)} active datasets")
                continue
            did = int(act.datasetid.iloc[0])
            if did != rows.datasetid.max():
                problems.append(f"{label} {date}: redelivery did not supersede")
            if landed.get(did) != t["rows"]:
                problems.append(f"{label} {date}: landed {landed.get(did)} rows, "
                                f"generated {t['rows']}")
        for day, r in self.results:
            want = "Empty" if os.path.basename(r.filename).startswith("alerts_") else "Active"
            if r.status != want:
                problems.append(f"day {day} {os.path.basename(r.filename)}: {r.status}")
        redelivered = ds[ds.label == gen.EVENT_SOURCES[0]].groupby("datasetdate").size()
        if (redelivered > 1).sum() < self.delivered - 1:
            problems.append("fewer superseded event snapshots than redeliveries")
        for day, rendered in self.reports:
            text = rendered.attachments.get("changes.csv", "")
            got = {r["scenario"]: int(r["users"]) for r in csv.DictReader(io.StringIO(text))}
            cur = users_after[day][gen.feed_date(day)]
            prev = users_after[day][gen.feed_date(day - 1)]
            want = {"Added": len(cur - prev), "Removed": len(prev - cur)}
            if got != want:
                problems.append(f"change report day {day}: {got} != {want}")
        return problems

    def stored_ratio(self) -> float:
        stored = gen.dir_bytes(self.data) + gen.dir_bytes(self.registry.root)
        delivered = sum(gen.dir_bytes(os.path.join(self.inputs, f"day{d:03d}"))
                        for d in range(self.delivered))
        return stored / delivered


# -- report_sweep -------------------------------------------------------------

SWEEP_QUERIES = (
    "event_changes",
    "orders_prev_busday",
    "customer_churn_setops",
    "order_tier_classification",
    "latest_event_per_user",
    "windowed_event_counts",
    "pricing_summary",
    "regional_revenue",
)

SEGMENT_SQL = """
SELECT c.c_mktsegment AS segment, COUNT(*) AS n_orders,
       CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS revenue
FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
GROUP BY c.c_mktsegment ORDER BY segment
"""
PRIORITY_SQL = """
SELECT o_orderpriority AS priority, COUNT(*) AS n_orders
FROM orders GROUP BY o_orderpriority ORDER BY priority
"""
KPI_SQL = """
SELECT d.label, d.datasetdate, COUNT(*) AS n_rows
FROM kpi k JOIN sweep_datasets d ON k.datasetid = d.datasetid
GROUP BY d.label, d.datasetdate ORDER BY d.datasetdate
"""


class ReportSweep(Workload):
    """Read-only: each cycle is one sweep of the eight registered analytic
    queries (plan, then collect) and two config-driven reports rendered with
    ``spark.sql``, over the generated sf0.1 star schema plus a versioned
    table landed at set-up. Caches are cleared between sweeps; the only
    registry call in a sweep is ``active()``."""

    name = "report_sweep"
    CYCLE_S = 9.5
    KPI_DAYS = 1
    KPI_ROWS = 2000

    def generate(self) -> None:
        shutil.rmtree(self.inputs, ignore_errors=True)
        self.sf_dir = os.path.join(self.inputs, "sf")
        gen.star_schema(self.sf_dir, self.seed)
        self.kpi_truth = {
            gen.feed_date(day): gen.event_file(os.path.join(self.inputs, "kpi"), self.seed, day,
                                               self.KPI_ROWS, drift=False)["rows"]
            for day in range(self.KPI_DAYS)
        }

    def bootstrap(self) -> None:
        from etl_database_spark.ingest import ImportConfig, ImportJob, TargetTable
        from etl_database_spark.metadata import MetadataSpec
        from etl_database_spark.queries import load_all
        from etl_database_spark.registry import DatasetRegistry
        from etl_database_spark.reports import ReportConfig
        from etl_database_spark.session import load_tables

        self.registry_all = load_all()
        load_tables(self.spark, self.sf_dir)
        self.registry = DatasetRegistry(self.spark, os.path.join(self.work, "registry"))
        self.data = os.path.join(self.work, "tables")
        watch = os.path.join(self.work, "watch")
        shutil.copytree(os.path.join(self.inputs, "kpi"), watch)
        cfg = ImportConfig("kpi", watch, os.path.join(self.work, "archive"),
                           r"events_\d{8}\.csv", "kpi", datasettype="kpi",
                           metadata=MetadataSpec(label_location="0", date_location="1",
                                                 date_format="%Y%m%d"))
        for r in ImportJob(self.spark, cfg, self.registry, self.data).run():
            self.attempted += 1
            self.failed += r.status != "Active"
        TargetTable(self.spark, self.data, "kpi").read().createOrReplaceTempView("kpi")
        self.report_cfgs = [
            ReportConfig(1, "orders_by_segment", "Orders by segment", ["ops@example.com"],
                         body_template="<h1>Segments</h1>{{segments}}",
                         body_queries={"segments": SEGMENT_SQL},
                         attachment_queries=[{"name": "segments", "query": SEGMENT_SQL},
                                             {"name": "priorities", "query": PRIORITY_SQL}]),
            ReportConfig(2, "landed_kpi", "Landed KPI snapshots", ["ops@example.com"],
                         body_template="<h1>KPI</h1>",
                         attachment_queries=[{"name": "kpi", "query": KPI_SQL}]),
        ]
        self.sweeps: list[dict] = []

    def _query(self, name: str):
        rq = self.registry_all[name]
        with self.tracer.span("queries.plan", query=name):
            df = rq.fn(self.spark, self.sf_dir)
        with self.tracer.span("queries.exec", query=name):
            return df.toPandas()

    def cycle(self, k: int) -> int:
        from etl_database_spark import reports

        self.spark.catalog.clearCache()
        self.registry.active().createOrReplaceTempView("sweep_datasets")
        out: dict = {}
        rows = 0
        for name in SWEEP_QUERIES:
            pdf = self.op(self._query, name)
            out[name] = pdf
            rows += 0 if pdf is None else len(pdf)
        for cfg in self.report_cfgs:
            rendered = self.op(reports.render_report, self.spark, cfg)
            out[cfg.report_name] = rendered
            if rendered is not None:
                self.failed += bool(rendered.errors)
                rows += _rendered_rows(rendered)
        self.sweeps.append(out)
        return rows

    def check(self) -> list[str]:
        import importlib.util

        spec = importlib.util.spec_from_file_location(
            "check_oracle", os.path.join(os.getcwd(), "tools", "check_oracle.py"))
        oracle = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(oracle)
        con = oracle.duck_connect(self.sf_dir)
        problems = []
        for name in SWEEP_QUERIES:
            want = con.execute(self.registry_all[name].oracle).df()
            want_hash = oracle.value_hash(want)
            for i, sweep in enumerate(self.sweeps):
                got = sweep[name]
                if got is None:
                    problems.append(f"{name} sweep {i}: failed")
                elif sorted(got.columns) != sorted(want.columns) or len(got) != len(want):
                    problems.append(f"{name} sweep {i}: {len(got)} rows vs oracle {len(want)}")
                elif oracle.value_hash(got) != want_hash:
                    problems.append(f"{name} sweep {i}: value hash differs from the oracle")
        segments = con.execute(SEGMENT_SQL).df()
        priorities = con.execute(PRIORITY_SQL).df()
        want_seg = {r.segment: (int(r.n_orders), round(r.revenue, 2))
                    for r in segments.itertuples()}
        want_pri = {r.priority: int(r.n_orders) for r in priorities.itertuples()}
        want_kpi = {str(d): n for d, n in self.kpi_truth.items()}
        for i, sweep in enumerate(self.sweeps):
            seg, kpi = sweep["orders_by_segment"], sweep["landed_kpi"]
            if seg is None or kpi is None or seg.errors or kpi.errors:
                problems.append(f"report sweep {i}: render failed")
                continue
            got_seg = {r["segment"]: (int(r["n_orders"]), round(float(r["revenue"]), 2))
                       for r in csv.DictReader(io.StringIO(seg.attachments["segments.csv"]))}
            got_pri = {r["priority"]: int(r["n_orders"])
                       for r in csv.DictReader(io.StringIO(seg.attachments["priorities.csv"]))}
            got_kpi = {r["datasetdate"]: int(r["n_rows"])
                       for r in csv.DictReader(io.StringIO(kpi.attachments["kpi.csv"]))}
            if got_seg != want_seg or got_pri != want_pri:
                problems.append(f"report sweep {i}: segment report differs from DuckDB")
            if got_kpi != want_kpi:
                problems.append(f"report sweep {i}: kpi report {got_kpi} != {want_kpi}")
        return problems

    def stored_ratio(self) -> float:
        """The landed KPI table and the registry per KPI input byte: the
        star schema is read in place, so only the KPI files are stored."""
        stored = gen.dir_bytes(self.data) + gen.dir_bytes(self.registry.root)
        return stored / gen.dir_bytes(os.path.join(self.inputs, "kpi"))


# -- corpus_maintenance -------------------------------------------------------


def _shingle_set(text: str, n: int) -> set[str]:
    norm = " ".join(text.lower().split())
    return {norm[i:i + n] for i in range(len(norm) - n + 1)}


class CorpusMaintenance(Workload):
    """The operators layer both ways on the same stores. Each cycle ingests
    a 100-doc day-batch into an ``EdgeStore`` bootstrapped on a base corpus
    and a day of events into a ``RollupStore``, replays the batch id (a
    no-op), retracts three earlier documents and the previous day's error
    events, serves both stores and compacts both."""

    name = "corpus_maintenance"
    CYCLE_S = 14.0
    BASE_DOCS = 400
    BATCH = 100
    MAX_CYCLES = 26  # event days after the three bootstrap days
    N_EVENTS = 100_000
    N_USERS = 1500
    # minhash_near_dups' parameters: 7-char shingles, 32 permutations,
    # 8 bands, threshold 0.5, and its est-Jaccard prefilter (margin 0.2)
    # as the store's signature-agreement cut
    PARAMS = dict(n=7, num_perm=32, bands=8, threshold=0.5, min_agree=10)

    def generate(self) -> None:
        import numpy as np
        import pyarrow as pa
        import pyarrow.parquet as pq

        shutil.rmtree(self.inputs, ignore_errors=True)
        os.makedirs(self.inputs)
        self.docs = gen.documents(self.seed, self.BASE_DOCS + self.BATCH * self.MAX_CYCLES)
        pq.write_table(pa.table({
            "doc_id": np.array([d for d, _ in self.docs], dtype=np.int64),
            "text": [t for _, t in self.docs],
        }), os.path.join(self.inputs, "documents.parquet"))
        self.events = gen.events(self.seed, self.N_EVENTS, self.N_USERS)
        pq.write_table(pa.table(self.events), os.path.join(self.inputs, "events.parquet"))
        self.event_day = (self.events["ts"].astype("datetime64[D]")
                          - np.datetime64("2024-01-01", "D")).astype(int)

    def bootstrap(self) -> None:
        from etl_database_spark.operators.edgestore import EdgeStore
        from etl_database_spark.operators.rollup import RollupStore
        from etl_database_spark.queries import table

        self.doc_df = self.spark.read.parquet(os.path.join(self.inputs, "documents.parquet"))
        ev = table(self.spark, self.inputs, "events")
        self.ev = ev.withColumn("_day", F.datediff(F.to_date("ts"), F.lit("2024-01-01")))
        self.edge = EdgeStore(self.spark, os.path.join(self.work, "edges"), **self.PARAMS)
        self.rollup = RollupStore(self.spark, os.path.join(self.work, "rollup"))
        base = self.doc_df.where(F.col("doc_id") < self.BASE_DOCS)
        self.edge.ingest(base, "base0", corpus=base)
        self.rollup.ingest(self._ev_days(0, 3), "base0")
        self.next_doc = self.BASE_DOCS
        self.days = [0, 1, 2]
        self.retracted_docs: list[int] = []
        self.retracted_error_days: list[int] = []
        self.bad_batches: list[str] = []  # not ingested once, or a replay not a no-op

    def _ev_days(self, lo: int, hi: int):
        return self.ev.where((F.col("_day") >= lo) & (F.col("_day") < hi)).drop("_day")

    def cycle(self, k: int) -> int:
        lo, hi = self.next_doc, self.next_doc + self.BATCH
        day = self.days[-1] + 1
        batch = self.doc_df.where((F.col("doc_id") >= lo) & (F.col("doc_id") < hi))
        corpus = self.doc_df.where(F.col("doc_id") < hi)
        ev_day = self._ev_days(day, day + 1)
        bid = f"d{day:03d}"
        added = self.op(self.edge.ingest, batch, bid, corpus=corpus)
        self.op(self.rollup.ingest, ev_day, bid)
        # a replayed batch id must be a no-op on both stores
        replay = (self.op(self.edge.ingest, batch, bid, corpus=corpus),
                  self.op(self.rollup.ingest, ev_day, bid))
        if (added, replay) != (True, (False, False)):
            self.bad_batches.append(bid)
        self.next_doc = hi
        self.days.append(day)
        self._maintain(lo, day - 1, f"r{day:03d}")
        return self.BATCH + int((self.event_day == day).sum())

    def _maintain(self, lo: int, error_day: int, rid: str) -> None:
        """Retract three documents below ``lo`` and ``error_day``'s error
        events, serve both stores, compact both."""
        gone = [lo - 1 - 7 * i for i in range(3)]
        self.retracted_docs += gone
        self.op(self.edge.retract, self.doc_df.where(F.col("doc_id").isin(gone)), rid)
        errors = self._ev_days(error_day, error_day + 1).where(F.col("event_type") == "error")
        self.op(self.rollup.retract, errors, rid)
        self.retracted_error_days.append(error_day)
        # a serve is the plan (the patched edges()/serve()) plus its collect
        with self.tracer.span("operators.edgestore.serve"):
            self.served_edges = self.op(lambda: self.edge.edges().collect())
        with self.tracer.span("operators.rollup.serve"):
            self.served_rollup = self.op(lambda: self.rollup.serve().collect())
        self.op(self.edge.compact)
        self.op(self.rollup.compact)

    def check(self) -> list[str]:
        from etl_database_spark.functions import dedup as D

        p = self.PARAMS
        problems = [f"batch {b}: ingest or replay misbehaved" for b in self.bad_batches]
        gone = set(self.retracted_docs)
        live = self.doc_df.where((F.col("doc_id") < self.next_doc)
                                 & ~F.col("doc_id").isin(sorted(gone)))
        one_shot = {
            (r["id_a"], r["id_b"])
            for r in D.minhash_near_duplicates(
                live, "text", "doc_id", n=p["n"], num_perm=p["num_perm"], bands=p["bands"],
                threshold=p["threshold"]).collect()
        }
        if self.served_edges is None:
            return problems + ["edge store serve failed"]
        served = {(r["id_a"], r["id_b"]) for r in self.served_edges}
        # the cycle served before compacting: the compacted store must
        # serve the same pairs and the same rollup
        if {(r["id_a"], r["id_b"]) for r in self.edge.edges().collect()} != served:
            problems.append("edge store serves other pairs after compaction")
        if self.served_rollup is not None and self.rollup.serve().collect() != self.served_rollup:
            problems.append("rollup store serves another rollup after compaction")
        missing = one_shot - served
        if missing:
            problems.append(f"{len(missing)} one-shot pairs not served, e.g. {sorted(missing)[:3]}")
        text = dict(self.docs)
        extras = served - one_shot
        for a, b in sorted(extras):
            sa, sb = _shingle_set(text[a], p["n"]), _shingle_set(text[b], p["n"])
            if a in gone or b in gone or len(sa & sb) / len(sa | sb) < p["threshold"]:
                problems.append(f"served pair {(a, b)} does not verify")
        self.detail.update(one_shot_pairs=len(one_shot), served_pairs=len(served),
                           extra_pairs=len(extras))
        # rollup: ingested days minus the retracted error events
        want: dict[tuple[str, str], list] = {}
        retracted = set(self.retracted_error_days)
        for day, etype, value in zip(self.event_day, self.events["event_type"],
                                     self.events["value"]):
            if day > self.days[-1] or (day in retracted and etype == "error"):
                continue
            key = (str(gen.feed_date(int(day))), str(etype))
            acc = want.setdefault(key, [0, Decimal(0)])
            acc[0] += 1
            acc[1] += Decimal(f"{value:.2f}")
        if self.served_rollup is None:
            return problems + ["rollup serve failed"]
        got = {(str(r["day"]), r["event_type"]): (r["n_events"], r["sum_value"])
               for r in self.served_rollup}
        want = {k: v for k, v in want.items() if v[0] > 0}
        if set(got) != set(want):
            problems.append(f"rollup serves {len(got)} groups, expected {len(want)}")
        for key, (n, s) in want.items():
            if key in got and (got[key][0] != n or abs(got[key][1] - float(s)) > 1e-6):
                problems.append(f"rollup {key}: {got[key]} != {(n, float(s))}")
        return problems

    def stored_ratio(self) -> float:
        stored = gen.dir_bytes(self.edge.path) + gen.dir_bytes(self.rollup.path)
        maintained = (os.path.getsize(os.path.join(self.inputs, "documents.parquet"))
                      * self.next_doc / len(self.docs)
                      + os.path.getsize(os.path.join(self.inputs, "events.parquet"))
                      * len(self.days) / 30)
        return stored / maintained


WORKLOADS = {w.name: w for w in (FeedIngest, ReportSweep, CorpusMaintenance)}
