"""Dataset registry: dated, versioned snapshot lineage.

Re-expresses the reference's dataset dimension and its single-active
invariant (onboarding/sql/dataset_setup.sql):

- ``dataset`` rows: datasetid, datasetdate, label, datasettypeid,
  datasourceid, datastatusid, efffromdate, effthrudate, isactive,
  createddate, createdby (dataset_setup.sql:123-139);
- lookup dimensions dataset_type / dataset_source / dataset_status
  with idempotent ensure-inserts (the reference's ON CONFLICT DO
  NOTHING lookups, generic_import.py:214-243);
- **single-active invariant**: at most one active row per (label,
  datasettypeid, datasetdate). The reference enforces it with an AFTER
  INSERT trigger (dataset_setup.sql:193-216) inside the insert's own
  small transaction.

Every registry write is one driver-side read-modify-write with
pyarrow and starts no Spark job: read the registry table, apply the
change, re-derive the invariant over the active rows with one
group-by-key pass (SURVEY.md W2), and publish one Parquet file in place
of the table through the engine's commit protocol (``commit.py``), so
readers never see a half-written registry and a write cut off between
its renames is rolled back when the registry is next read.
The table is a few hundred rows, so a Spark job per step (an aggregate
for ``max(datasetid)``, a window shuffle, a ``coalesce(1)`` write)
would cost far more than the work itself. Reads stay Spark:
``datasets()`` and ``active()`` return DataFrames over the same
directory, so SQL consumers and report views join against it. They
read with the declared ``DATASET_SCHEMA`` — the schema Spark would
infer, for Arrow-written and INT96 legacy files alike — so building
them starts no schema-inference job.

The registry is small (one row per import), so full-rewrite semantics
are fine at any realistic cardinality — 100 TB of *data* is still only
~10⁵ snapshots. Data tables reference ``datasetid`` and are partitioned
by ``datasetdate``, so active-snapshot queries prune partitions.

Timestamps are stored as UTC instants (``timestamp[us, UTC]``, which
Spark reads as TimestampType; a naive Arrow timestamp would read back
as TimestampNTZ). Naive datetimes such as ``FAR_FUTURE`` are local
time, as PySpark's TimestampType conversion reads them, so they are
converted with ``astimezone``. Registries written by the earlier Spark
writer carry INT96 timestamps; they are read at microsecond unit,
because 9999-01-01 overflows nanoseconds.
"""

from __future__ import annotations

import datetime as dt
import getpass
import os

import pyarrow as pa
import pyarrow.dataset as pads
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from etl_database_spark import commit

FAR_FUTURE = dt.datetime(9999, 1, 1)

# Seed statuses, dataset_setup.sql:368-374.
STATUSES = ["Active", "Inactive", "Deleted", "New", "Failed", "Empty"]
STATUS_ID = {name: i + 1 for i, name in enumerate(STATUSES)}

DATASET_SCHEMA = T.StructType(
    [
        T.StructField("datasetid", T.LongType(), False),
        T.StructField("datasetdate", T.DateType(), True),
        T.StructField("label", T.StringType(), True),
        T.StructField("datasettypeid", T.IntegerType(), True),
        T.StructField("datasourceid", T.IntegerType(), True),
        T.StructField("datastatusid", T.IntegerType(), True),
        T.StructField("efffromdate", T.TimestampType(), True),
        T.StructField("effthrudate", T.TimestampType(), True),
        T.StructField("isactive", T.BooleanType(), True),
        T.StructField("createddate", T.TimestampType(), True),
        T.StructField("createdby", T.StringType(), True),
    ]
)

_ARROW_TYPES = {
    T.LongType(): pa.int64(),
    T.IntegerType(): pa.int32(),
    T.StringType(): pa.string(),
    T.DateType(): pa.date32(),
    T.BooleanType(): pa.bool_(),
    T.TimestampType(): pa.timestamp("us", tz="UTC"),
}
_DATASET_ARROW = pa.schema(
    [pa.field(f.name, _ARROW_TYPES[f.dataType], f.nullable) for f in DATASET_SCHEMA]
)
_PARQUET = pads.ParquetFileFormat(
    read_options=pads.ParquetReadOptions(coerce_int96_timestamp_unit="us")
)


def _utc(ts: dt.datetime) -> dt.datetime:
    """A naive local datetime as a UTC instant. pyarrow takes the wall
    clock of an aware datetime as UTC whatever its offset, so the value
    is normalised to UTC before it reaches Arrow."""
    return ts.astimezone(dt.timezone.utc)


class DatasetRegistry:
    """Parquet-backed dataset registry with versioned registration."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        self.path = os.path.join(root, "dataset")
        self._types_path = os.path.join(root, "dataset_type")
        self._sources_path = os.path.join(root, "dataset_source")
        os.makedirs(root, exist_ok=True)

    # -- lookups ---------------------------------------------------------
    # ensure_lookup reads the entire lookup table per call, which is
    # only sound because these tables are configuration-cardinality
    # (dataset types / data sources: one row per configured pipeline,
    # tens of rows). The cap below makes that invariant executable —
    # routing per-row or per-file data through a lookup would otherwise
    # silently become a driver-side read of unbounded data at scale.
    MAX_LOOKUP_ROWS = 10_000

    def ensure_lookup(self, path: str, id_col: str, name_col: str, name: str) -> int:
        """Idempotent get-or-insert of a lookup row (ON CONFLICT DO
        NOTHING shape, generic_import.py:218-243). Returns the id.

        Lookup tables must stay configuration-sized (see
        MAX_LOOKUP_ROWS); this is not a general-purpose dimension
        writer."""
        schema = pa.schema(
            [pa.field(id_col, pa.int32(), False), pa.field(name_col, pa.string(), False)]
        )
        # One capped read serves both the guard and the lookup — the
        # limit keeps a mis-routed huge table off the driver, and the
        # row count past the cap is the error signal.
        table = _read_arrow(path, schema, limit=self.MAX_LOOKUP_ROWS + 1)
        if table.num_rows > self.MAX_LOOKUP_ROWS:
            raise ValueError(
                f"lookup table {path} exceeds MAX_LOOKUP_ROWS="
                f"{self.MAX_LOOKUP_ROWS}; ensure_lookup is for "
                "configuration-cardinality tables only"
            )
        existing = dict(zip(table[name_col].to_pylist(), table[id_col].to_pylist()))
        if name not in existing and len(existing) >= self.MAX_LOOKUP_ROWS:
            raise ValueError(
                f"lookup table {path} is at MAX_LOOKUP_ROWS="
                f"{self.MAX_LOOKUP_ROWS}; refusing to grow it — "
                "ensure_lookup is for configuration-cardinality tables only"
            )
        if name in existing:
            return existing[name]
        new_id = (max(existing.values()) + 1) if existing else 1
        updated = sorted((existing | {name: new_id}).items(), key=lambda x: x[1])
        _write_arrow(
            pa.Table.from_pylist([{id_col: v, name_col: k} for k, v in updated], schema), path
        )
        return new_id

    def ensure_type(self, name: str) -> int:
        return self.ensure_lookup(self._types_path, "datasettypeid", "datasettype", name)

    def ensure_source(self, name: str) -> int:
        return self.ensure_lookup(self._sources_path, "datasourceid", "datasource", name)

    # -- dataset rows ----------------------------------------------------
    def datasets(self) -> DataFrame:
        commit.recover(self.path)
        if os.path.exists(self.path):
            return self.spark.read.schema(DATASET_SCHEMA).parquet(self.path)
        return self.spark.createDataFrame([], DATASET_SCHEMA)

    def _rows(self) -> list[dict]:
        return _read_arrow(self.path, _DATASET_ARROW).to_pylist()

    def _write_rows(self, rows: list[dict]) -> None:
        _write_arrow(pa.Table.from_pylist(rows, _DATASET_ARROW), self.path)

    def register_snapshot(
        self,
        datasetdate: dt.date,
        label: str,
        datasettypeid: int,
        datasourceid: int = 1,
        datastatusid: int = STATUS_ID["Active"],
        createdby: str | None = None,
    ) -> int:
        """Insert a snapshot row; enforce the single-active invariant
        only when the new row is itself registered active.

        The reference trigger fires only WHEN NEW.isactive = TRUE
        (dataset_setup.sql:193-216) — a row inserted as New/Failed/Empty
        must NOT supersede the currently-active snapshot for its
        (label, datasettypeid, datasetdate) key; deactivation of
        siblings is tied to activation (here, or via
        ``set_status('Active')``, the f_dataset_iu shape).
        """
        return self._register(
            [(datasetdate, label)], datasettypeid, datasourceid, datastatusid, createdby
        )[0]

    def register_snapshots(
        self,
        entries: list[tuple[dt.date, str]],
        datasettypeid: int,
        datasourceid: int = 1,
        datastatusid: int = STATUS_ID["Active"],
        createdby: str | None = None,
    ) -> dict[tuple[str, dt.date], int]:
        """Batch form of register_snapshot: k snapshots, ONE registry
        rewrite (the bulk-ingest path registers one key per distinct
        (label, date) in a single logical transaction). Returns
        {(label, date): id}."""
        if not entries:
            return {}
        ids = self._register(entries, datasettypeid, datasourceid, datastatusid, createdby)
        return {(label, d): i for (d, label), i in zip(entries, ids)}

    def _register(
        self,
        entries: list[tuple[dt.date, str]],
        datasettypeid: int,
        datasourceid: int,
        datastatusid: int,
        createdby: str | None,
    ) -> list[int]:
        now = dt.datetime.now(dt.timezone.utc)
        rows = self._rows()
        first = max((r["datasetid"] for r in rows), default=0) + 1
        ids = list(range(first, first + len(entries)))
        by = createdby or getpass.getuser()
        is_active = datastatusid == STATUS_ID["Active"]
        far_future = _utc(FAR_FUTURE)
        rows += [
            dict(
                datasetid=i,
                datasetdate=d,
                label=label,
                datasettypeid=datasettypeid,
                datasourceid=datasourceid,
                datastatusid=datastatusid,
                efffromdate=now,
                effthrudate=far_future,
                isactive=is_active,
                createddate=now,
                createdby=by,
            )
            for i, (d, label) in zip(ids, entries)
        ]
        if is_active:
            _enforce_single_active(rows, now)
        self._write_rows(rows)
        return ids

    def active(self) -> DataFrame:
        """Active datasets only (the is_active filters of
        create_f_get_event_changes.sql:34,41,59)."""
        return self.datasets().where(F.col("isactive"))

    def set_status(self, datasetid: int, status: str) -> None:
        """Status transition (Activate/Deactivate/Empty/Failed — the
        f_dataset_iu shape, dataset_setup.sql:252-348). Activating a
        row deactivates its (label, datasettypeid, datasetdate)
        siblings — the single-active invariant lives on the activation
        path, mirroring the reference's WHEN NEW.isactive trigger."""
        sid = STATUS_ID[status]
        activate = status == "Active"
        now = dt.datetime.now(dt.timezone.utc)
        rows = self._rows()
        for r in rows:
            if r["datasetid"] != datasetid:
                continue
            r["datastatusid"] = sid
            r["isactive"] = activate
            if activate:
                # Re-activation re-opens the row's effective range before
                # the invariant pass closes out the displaced siblings.
                r["effthrudate"] = _utc(FAR_FUTURE)
            elif r["effthrudate"] > now:
                # Deactivation closes the effective range exactly like the
                # displacement path — an isactive=false row with an open
                # effthrudate would still satisfy point-in-time range
                # predicates forever.
                r["effthrudate"] = now
        if activate:
            _enforce_single_active(rows, now, winner_id=datasetid)
        self._write_rows(rows)

    def status_table(self) -> DataFrame:
        return self.spark.createDataFrame(
            [Row(datastatusid=i + 1, datastatus=s) for i, s in enumerate(STATUSES)]
        )


def _enforce_single_active(rows: list[dict], now: dt.datetime, winner_id: int | None = None) -> None:
    """At most one active row per (label, datasettypeid, datasetdate),
    in place: losers get isactive=false, effthrudate=now. The winner is
    the explicitly-activated row when ``winner_id`` is given (set_status
    path), else the most recent active row (register path)."""
    # Only active rows compete: a newer inactive sibling (an Empty/Failed
    # re-delivery) must never displace the key's active snapshot on a
    # later unrelated enforcement pass.
    def key(r: dict) -> tuple:
        return r["label"], r["datasettypeid"], r["datasetdate"]

    def rank(r: dict) -> tuple:
        return r["datasetid"] == winner_id, r["efffromdate"], r["datasetid"]

    winners: dict[tuple, dict] = {}
    for r in rows:
        if r["isactive"] and (key(r) not in winners or rank(r) > rank(winners[key(r)])):
            winners[key(r)] = r
    for r in rows:
        if r["isactive"] and winners[key(r)] is not r:
            r["isactive"] = False
            r["effthrudate"] = now


def _read_arrow(path: str, schema: pa.Schema, limit: int | None = None) -> pa.Table:
    """A small Parquet table on the driver, cast to ``schema`` (this
    also reinterprets the INT96 timestamps of Spark-written files as
    the UTC instants they hold); empty when ``path`` does not exist.
    Spark's ``_SUCCESS`` and ``.crc`` files are skipped by their
    prefixes. An unfinished write of ``path`` is rolled back first."""
    commit.recover(path)
    if not os.path.exists(path):
        return schema.empty_table()
    data = pads.dataset(path, format=_PARQUET)
    table = data.to_table() if limit is None else data.head(limit)
    return table.select(schema.names).cast(schema)


def _write_arrow(table: pa.Table, path: str) -> None:
    """One part file published in place of ``path``. No Arrow schema in
    the footer: Spark reads the Parquet schema alone, and the file stays
    the size Spark's own writer would make it."""
    with commit.replacing(path) as new:
        os.makedirs(new)
        pq.write_table(table, os.path.join(new, "part-00000.parquet"), store_schema=False)
