"""Config-driven generic import: the reference's core pipeline
(systemscripts/generic_import.py) re-built on Spark readers and a
schema-evolving versioned Parquet write path.

Pipeline per config (mirrors generic_import.py:492-819):

1. discover files in ``source_directory`` matching ``file_pattern``
   (regex over listdir, generic_import.py:520-545);
2. per file: extract (label, date) metadata from the filename
   (metadata.py), register a dataset snapshot (registry.py) —
   superseding any earlier snapshot of the same key;
3. read CSV all-string (the reference lands everything as VARCHAR,
   generic_import.py:183-193) — or Excel via the driver-side converter
   (sources/excel.py). The header record is parsed on the driver
   (``csv_header``, Spark's own naming rules) and handed to Spark as an
   explicit all-string schema, so the read plans without a job; a file
   with no header (zero bytes) is Empty at once;
4. validate: an empty file or "Invalid Event ID" content in the first
   column marks the dataset Empty and archives without loading
   (generic_import.py:353-377, 612-640). Both gates are observed on
   the append itself (row count and invalid-row count ride the write
   job as an ``Observation``); the append writes into a staging
   directory and commits only if the gates pass;
5. transform: normalize column names (lowercase, space/hyphen →
   underscore, generic_import.py:392), inject ``datasetid`` +
   metadata columns (generic_import.py:399-403), optionally truncate
   values to the width cap (generic_import.py:446-456);
6. append to the target Parquet table partitioned by ``datasetdate``
   with schema evolution per import strategy
   (create_importconfig_table.sql:13-17); the target's columns come
   from its Parquet footers on the driver:
   - strategy 1: new columns are added (union-by-name, mergeSchema);
   - strategy 2: only columns already in the target are loaded;
   - strategy 3: fail if the file is missing target columns (checked
     after the Empty gates, so an invalid file still lands Empty);
7. archive the consumed file (generic_import.py:780-796).

A delivered file costs one Spark job: the staged write.

Scale notes: the per-file loop is config-driven control flow; the data
path is pure Spark. For bulk backfills use ``load_directory`` which
reads every matching file in ONE ``spark.read`` (with
``input_file_name()``-derived metadata columns) — one job regardless
of file count. Data tables partition by ``datasetdate`` so snapshot
queries prune; truncation is a projection on the write and the widths
it needs are observed on the same job.
"""

from __future__ import annotations

import codecs
import datetime as dt
import os
import re
import shutil
from collections import Counter
from dataclasses import dataclass, field
from typing import Callable

import pyarrow.parquet as pq
from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from etl_database_spark import commit
from etl_database_spark.maintenance import data_dirs, read_parquet
from etl_database_spark.metadata import MetadataSpec, parse_date, parse_label
from etl_database_spark.registry import STATUS_ID, DatasetRegistry

DEFAULT_WIDTH = 1000  # generic_import.py:328
WIDTH_CAP = 4000  # generic_import.py:191
WIDTH_FACTOR = 1.5  # generic_import.py:191
# Bound on distinct (label, datasetdate) snapshot keys one bulk load
# may register: config-batch cardinality by design; a malformed
# metadata pattern that extracts per-row keys must fail loudly, not
# collect a data-sized list onto the driver.
MAX_SNAPSHOT_KEYS = 100_000


@dataclass
class ImportConfig:
    """One row of the import-config surface
    (create_importconfig_table.sql:20-51)."""

    config_name: str
    source_directory: str
    archive_directory: str
    file_pattern: str
    target_table: str
    file_type: str = "CSV"  # CSV | XLS | XLSX
    datasource: str = "file"
    datasettype: str = "Generic"
    delimiter: str = ","
    import_strategy: int = 1  # 1 evolve, 2 intersect, 3 strict
    truncate_to_width: bool = False
    metadata: MetadataSpec = field(default_factory=MetadataSpec)
    is_active: bool = True
    # Post-import compaction gate: when any datasetdate partition holds
    # more than this many files after a run, the table is compacted
    # (None disables). Per-file appends write ≥1 file each — a daily
    # feed degrades scans into small-file storms without this.
    compact_max_files: int | None = None


def normalize_name(name: str) -> str:
    """lowercase; spaces/hyphens → underscores (generic_import.py:327,392)."""
    return re.sub(r"[ \-]", "_", name.strip().lower())


def normalize_columns(df: DataFrame) -> DataFrame:
    return df.toDF(*[normalize_name(c) for c in df.columns])


def col(name: str) -> Column:
    """A column by its literal name: ``F.col`` parses dots and backticks
    as a nested-field path, which a delivered header may contain."""
    return F.col("`" + name.replace("`", "``") + "`")


# Escapes Spark accepts in the ``sep`` option (CSVExprUtils.toChar).
_SEP_ESCAPES = {"t": "\t", "r": "\r", "b": "\b", "f": "\f", '"': '"', "'": "'", "\\": "\\"}


def _csv_delimiter(sep: str) -> str:
    """The delimiter Spark reads from a ``sep`` option: any string, with
    the backslash escapes above spelled out; an empty ``sep``, a lone
    backslash or another escape is an error, as in Spark."""
    out, i = [], 0
    while i < len(sep):
        if sep[i] != "\\":
            out.append(sep[i])
            i += 1
            continue
        esc = sep[i + 1:i + 2]
        if esc not in _SEP_ESCAPES:
            raise ValueError(f"unsupported CSV delimiter {sep!r}")
        out.append(_SEP_ESCAPES[esc])
        i += 2
    if not out:
        raise ValueError("empty CSV delimiter")
    return "".join(out)


def _first_line(path: str) -> str | None:
    """The line Spark's CSV header inference takes: the first one that
    is not empty or all spaces, after a UTF-8 BOM; LF, CR and CRLF
    all end a line. Reads only as far as that line."""
    with open(path, "rb") as f:
        head = f.read(len(codecs.BOM_UTF8))
        pending = b"" if head == codecs.BOM_UTF8 else head
        while True:
            chunk = f.read(1 << 16)
            *lines, pending = re.split(rb"\r\n|\r|\n", pending + chunk)
            if not chunk:
                lines.append(pending)
            for line in lines:
                text = line.decode("utf-8", "replace")
                if text.strip(" "):
                    return text
            if not chunk:
                return None


def _split_record(line: str, sep: str) -> list[str | None]:
    """Split one CSV line as Spark's parser does with its defaults
    (quote ``"``, escape ``\\``): a quoted field may hold the
    delimiter and escaped quotes or backslashes, whitespace after its
    closing quote is dropped, an unterminated one runs to the end of
    the line, and one with a stray quote inside keeps its raw text up
    to the next delimiter. An empty unquoted field is None."""
    out: list[str | None] = []
    i, n = 0, len(line)
    while True:
        if line.startswith('"', i):
            buf, j = [], i + 1
            while j < n and line[j] != '"':
                if line[j] == "\\" and line[j + 1:j + 2] in ('"', "\\"):
                    j += 1
                buf.append(line[j])
                j += 1
            if j == n:
                out.append("".join(buf))
                return out
            k = j + 1
            while k < n and line[k] <= " " and not line.startswith(sep, k):
                k += 1
            if k == n:
                out.append("".join(buf))
                return out
            if line.startswith(sep, k):
                out.append("".join(buf))
                i = k + len(sep)
                continue
            end = line.find(sep, j + 1)
        else:
            end = line.find(sep, i)
        if end < 0:
            out.append(line[i:] or None)
            return out
        out.append(line[i:end] or None)
        i = end + len(sep)


def csv_header(path: str, sep: str = ",", case_sensitive: bool = False) -> list[str] | None:
    """Column names Spark gives a CSV read with ``header=true``, worked
    out on the driver without a Spark job; None for a file with no
    header line. Spark's naming (CSVUtils.makeSafeHeader): an empty
    name becomes ``_c{i}``; a duplicate name (case-insensitively unless
    ``case_sensitive``) gets its index appended; whitespace is kept."""
    line = _first_line(path)
    if line is None:
        return None
    row = _split_record(line, _csv_delimiter(sep))
    key = (lambda v: v) if case_sensitive else str.lower
    seen = Counter(key(v) for v in row if v is not None)
    return [
        f"_c{i}" if not v else f"{v}{i}" if seen[key(v)] > 1 else v
        for i, v in enumerate(row)
    ]


def width_rule(max_len: int | None) -> int:
    """Per-column VARCHAR-width rule: max_len × 1.5, floor DEFAULT,
    cap 4000 (generic_import.py:183-193)."""
    return min(int((max_len or 0) * WIDTH_FACTOR) or DEFAULT_WIDTH, WIDTH_CAP)


def profile_widths(df: DataFrame, columns: list[str] | None = None) -> dict[str, int]:
    """``width_rule`` per string column — one aggregate pass over the
    scan, not per-column passes."""
    cols = columns or [c for c, t in df.dtypes if t == "string"]
    if not cols:
        return {}
    row = df.agg(*[F.max(F.length(col(c))).alias(f"w{i}") for i, c in enumerate(cols)]).first()
    return {c: width_rule(row[f"w{i}"]) for i, c in enumerate(cols)}


def truncate_to_widths(df: DataFrame, widths: dict[str, int]) -> DataFrame:
    """Explicit substring truncation stage (generic_import.py:446-456);
    the reference warns per truncated column — we return the frame and
    let the caller count truncations if it cares."""
    return df.select(*[
        F.substring(col(c), 1, widths[c]).alias(c) if c in widths else col(c)
        for c in df.columns
    ])


class TargetTable:
    """A Parquet data table partitioned by datasetdate, with
    union-by-name schema evolution (SURVEY.md §4.2.2).

    When an ``audit`` log is attached, every schema-changing write is
    recorded (the reference's tddllogs event-trigger analog,
    setup_dba_maintenance.sql:82-120): table creation, strategy-1
    column evolution, strategy-3 validation failure.

    Opening a table rolls back an append or a compaction that was cut
    off before its commit (``commit.recover``)."""

    def __init__(self, spark: SparkSession, root: str, name: str, audit=None):
        self.spark = spark
        self.name = name
        self.path = os.path.join(root, name)
        self.audit = audit
        commit.recover(self.path)

    def exists(self) -> bool:
        """Whether the table holds anything: a rolled-back first append
        can leave its directory behind, empty."""
        return os.path.isdir(self.path) and bool(os.listdir(self.path))

    def read(self) -> DataFrame:
        """The table under the union of its files' schemas — a
        ``mergeSchema`` read whose schema is read from the footers on
        the driver (``maintenance.read_parquet``), not by a Spark job."""
        return read_parquet(self.spark, self.path, merge=True)

    def columns(self) -> list[str]:
        """The union of the column names in the table's Parquet footers,
        then its hive partition columns, read on the driver (a Spark
        ``mergeSchema`` read would start a job to learn them)."""
        names: dict[str, None] = {}
        partition_cols: dict[str, None] = {}
        for pdir, files in data_dirs(self.path):
            for f in files:
                names.update(dict.fromkeys(pq.read_schema(f).names))
            rel = os.path.relpath(pdir, self.path)
            partition_cols.update(dict.fromkeys(
                seg.split("=", 1)[0] for seg in rel.split(os.sep) if "=" in seg
            ))
        return list(names) + [c for c in partition_cols if c not in names]

    def append(self, df: DataFrame, strategy: int = 1,
               gate: Callable[[], bool] | None = None) -> list[str] | None:
        """Append with per-strategy schema reconciliation
        (create_importconfig_table.sql:13-17; generic_import.py:320-351,
        405-424). Returns the list of new columns added (strategy 1),
        or None when ``gate`` refused the write.

        The frame is written into a stage beside the table and
        published (``commit.py``) only once ``gate`` (called after the
        write, so it can read metrics observed on it) passes: a staged
        ``datasetdate=…`` directory the table lacks moves in whole, and
        the files of any other move into the table's directory, all in
        one commit. A strategy-3 violation is raised after the gate, so
        the caller's Empty gates take precedence over it, as in the
        reference. On any failure the stage is removed and the table is
        left as it was.

        Matching is case-insensitive on normalized names (the reference
        lowercases both sides, generic_import.py:405-414).
        """
        new_cols: list[str] = []
        missing_in_file: list[str] = []
        created = not self.exists()
        if not created:
            existing = self.columns()
            incoming = df.columns
            missing_in_file = [c for c in existing if c not in incoming and c != "datasetdate"]
            extra_in_file = [c for c in incoming if c not in existing]
            if strategy == 2 and extra_in_file:
                df = df.drop(*extra_in_file)
            elif strategy in (1, 3):
                new_cols = extra_in_file
        with commit.staged(self.path) as stage:
            df.write.partitionBy("datasetdate").parquet(stage)
            if gate is not None and not gate():
                return None
            if strategy == 3 and missing_in_file:
                if self.audit is not None:
                    from etl_database_spark.audit import VALIDATION_FAILED

                    self.audit.record(
                        VALIDATION_FAILED,
                        self.name,
                        detail=f"missing target columns: {', '.join(missing_in_file)}",
                    )
                raise ValueError(
                    f"strategy 3: source file missing target columns {missing_in_file}"
                )
            moves = []
            for part in sorted(os.listdir(stage)):
                src, dst = os.path.join(stage, part), os.path.join(self.path, part)
                if not os.path.isdir(src):
                    continue
                if os.path.isdir(dst):
                    moves += [(os.path.join(src, f), os.path.join(dst, f))
                              for f in sorted(os.listdir(src))]
                else:
                    moves.append((src, dst))
            commit.publish(self.path, moves)
        if self.audit is not None:
            from etl_database_spark.audit import ADD_COLUMN, CREATE_TABLE

            if created:
                self.audit.record(
                    CREATE_TABLE, self.name, detail=f"columns: {', '.join(df.columns)}"
                )
            else:
                for c in new_cols:
                    self.audit.record(ADD_COLUMN, self.name, objecttype="column", detail=c)
        return new_cols

    def files_per_partition(self) -> dict[str, int]:
        """Data-file count per partition directory, as ``compact_table``
        counts them (<path>/datasetdate=YYYY-MM-DD/part-*.parquet)."""
        return {os.path.relpath(d, self.path): len(fs) for d, fs in data_dirs(self.path)}

    def maybe_compact(self, max_files_per_partition: int, target_files: int | None = None) -> bool:
        """Compact when any partition exceeds the file-count gate —
        the small-file remedy for per-file append ingest. The rewrite
        target stays under the gate so a compacted table doesn't
        immediately re-trigger. Returns whether a compaction ran."""
        counts = self.files_per_partition()
        if not counts or max(counts.values()) <= max_files_per_partition:
            return False
        if target_files is None:
            target_files = max(1, min(8, max_files_per_partition))
        from etl_database_spark.maintenance import compact_table

        compact_table(self.spark, self.path, target_files=target_files)
        return True


@dataclass
class ImportResult:
    filename: str
    datasetid: int
    rows: int
    status: str
    new_columns: list[str] = field(default_factory=list)


class ImportJob:
    """Entry point A (SURVEY.md §3.1): run one import config."""

    def __init__(self, spark: SparkSession, config: ImportConfig, registry: DatasetRegistry,
                 data_root: str, audit=None):
        self.spark = spark
        self.config = config
        self.registry = registry
        self.table = TargetTable(spark, data_root, config.target_table, audit=audit)

    def discover(self) -> list[str]:
        """Regex file discovery (generic_import.py:520-545)."""
        pat = re.compile(self.config.file_pattern)
        src = self.config.source_directory
        if not os.path.isdir(src):
            return []
        return sorted(
            os.path.join(src, f) for f in os.listdir(src) if pat.match(f)
        )

    def _read_file(self, path: str) -> DataFrame | None:
        """The file as an all-string frame (reference semantics), or
        None when it has no header line. The header is parsed on the
        driver, so Spark gets an explicit schema and starts no job to
        infer one. An Excel file is converted into
        ``self._scratch_dir``, which ``run_file`` deletes once the lazy
        frame has been consumed."""
        cfg = self.config
        if cfg.file_type.upper() in ("XLS", "XLSX"):
            import tempfile

            from etl_database_spark.sources.excel import excel_to_csv

            # Convert into a temp dir — the converted CSV must not land
            # in the watch dir (it is a derived artifact, not an input).
            self._scratch_dir = tempfile.mkdtemp(prefix="xls2csv_")
            out = os.path.join(
                self._scratch_dir, os.path.splitext(os.path.basename(path))[0] + ".csv"
            )
            path = excel_to_csv(path, out)
        names = csv_header(path, cfg.delimiter,
                           self.spark.conf.get("spark.sql.caseSensitive") == "true")
        if names is None:
            return None
        schema = T.StructType([T.StructField(n, T.StringType()) for n in names])
        return (
            self.spark.read.schema(schema)
            .option("header", "true")
            .option("sep", cfg.delimiter)
            .csv(path)
        )

    def _archive(self, path: str) -> None:
        os.makedirs(self.config.archive_directory, exist_ok=True)
        shutil.move(path, os.path.join(self.config.archive_directory, os.path.basename(path)))

    def _widths_path(self) -> str:
        # Beside the table directory (not inside it): creating the
        # table dir early would flip table.exists() before any data
        # lands, and parquet discovery should never see this file.
        return self.table.path + "._widths.json"

    def _target_widths(self, max_lens: dict[str, int | None]) -> dict[str, int]:
        """Profiled VARCHAR widths — the Parquet-world analog of the
        reference's DDL column lengths, persisted in a sidecar JSON and
        only ever WIDENED. ``max_lens`` is the incoming file's longest
        value per column, observed on the append's write job.

        This mirrors generic_import.py exactly: each import profiles
        its OWN incoming frame (get_column_lengths, :183-193), widens
        the established widths where required (add_columns_to_table's
        ALTER COLUMN branch, :317-347), then truncates against the
        post-widening widths (:440-456) — so, as in the reference,
        truncation fires only at the 4000 hard cap and the widths are
        the durable schema record. That is why the write itself can
        truncate to ``WIDTH_CAP`` before the widths are known: a
        merged width is at least ``width_rule(max_len)``, which is at
        least ``max_len`` below the cap. Re-deriving the widths from
        the target's DATA each run would cost a whole-table scan per
        file and ratchet down — an early narrow snapshot would
        silently truncate wider later deliveries. The one legacy case
        — a pre-existing table with no sidecar — profiles the target
        once to seed it.

        Returns the merged widths; the caller persists them via
        ``_persist_widths`` only AFTER the append commits, so a
        failed delivery leaves no schema trace (the reference gets
        the same effect from PostgreSQL's transactional DDL: its
        ALTERs roll back with the failed INSERT)."""
        import json

        path = self._widths_path()
        if os.path.exists(path):
            with open(path) as f:
                persisted = {k: int(v) for k, v in json.load(f).items()}
        elif self.table.exists():
            persisted = profile_widths(self.table.read())  # one-time seed
        else:
            persisted = {}
        merged = {c: max(persisted.get(c, 0), width_rule(n)) for c, n in max_lens.items()}
        return persisted | merged

    def _persist_widths(self, widths: dict[str, int]) -> None:
        commit.write_json(self._widths_path(), widths)

    def run_file(self, path: str) -> ImportResult:
        try:
            return self._run_file(path)
        finally:
            # Excel conversion scratch dir (if any) is dead once the
            # append materialized — without the cleanup a scheduled
            # XLSX config leaks a full converted copy per run.
            scratch = getattr(self, "_scratch_dir", None)
            if scratch:
                shutil.rmtree(scratch, ignore_errors=True)
                self._scratch_dir = None

    def _load(self, df: DataFrame, dataset_id: int,
              snap_date: dt.date) -> tuple[int, list[str]] | None:
        """Transform and append one file's frame → (rows, new columns),
        or None when it is Empty: no rows, or a first-column value
        holding 'Invalid Event ID' (generic_import.py:353-362). Both
        gates, and the value lengths for the width sidecar, are
        observed on the append's write job, which commits only if the
        gates pass — the file is read once."""
        cfg = self.config
        names = [normalize_name(c) for c in df.columns]
        metrics = [
            F.count(F.lit(1)).alias("rows"),
            F.count_if(F.lower(col(df.columns[0])).contains("invalid event id")).alias("invalid"),
        ]
        if cfg.truncate_to_width:
            metrics += [F.max(F.length(col(c))).alias(f"len{i}") for i, c in enumerate(df.columns)]
        obs = Observation()
        df = df.observe(obs, *metrics).toDF(*names)
        if cfg.truncate_to_width:
            df = truncate_to_widths(df, dict.fromkeys(names, WIDTH_CAP))
        df = (
            df.withColumn("datasetid", F.lit(dataset_id).cast("long"))
            .withColumn("datasetdate", F.lit(snap_date).cast("date"))
        )
        widths = None

        def gates_pass() -> bool:
            nonlocal widths
            m = obs.get
            if m["rows"] == 0 or m["invalid"] > 0:
                return False
            if cfg.truncate_to_width:
                widths = self._target_widths({c: m[f"len{i}"] for i, c in enumerate(names)})
            return True

        new_cols = self.table.append(df, cfg.import_strategy, gate=gates_pass)
        if new_cols is None:
            return None
        if widths is not None:
            self._persist_widths(widths)  # only after the append lands
        return obs.get["rows"], new_cols

    def _run_file(self, path: str) -> ImportResult:
        self._scratch_dir = None
        cfg = self.config
        label = parse_label(path, cfg.metadata) or cfg.config_name
        snap_date = parse_date(path, cfg.metadata)
        type_id = self.registry.ensure_type(cfg.datasettype)
        source_id = self.registry.ensure_source(cfg.datasource)
        dataset_id = self.registry.register_snapshot(
            snap_date, label, type_id, source_id, STATUS_ID["New"]
        )
        # ANY exception between registration and a terminal status —
        # append failures, but also width merging, normalization, or
        # observation retrieval — must mark the row Failed: a row left
        # in 'New' with the file un-archived would be re-registered as
        # a fresh 'New' row by every subsequent sweep (unbounded
        # registry growth). The flag keeps a post-success failure
        # (e.g. the archive move) from demoting an Active dataset
        # whose data already landed.
        terminal = False
        try:
            try:
                df = self._read_file(path)
            except Exception:  # unreadable file → Empty, archive (generic_import.py:612-640)
                df = None
            loaded = None if df is None else self._load(df, dataset_id, snap_date)
            if loaded is None:
                self.registry.set_status(dataset_id, "Empty")
                terminal = True
                self._archive(path)
                return ImportResult(path, dataset_id, 0, "Empty")
            rows, new_cols = loaded
            self.registry.set_status(dataset_id, "Active")
            terminal = True
            self._archive(path)
            return ImportResult(path, dataset_id, rows, "Active", new_cols)
        except Exception:
            if not terminal:
                self.registry.set_status(dataset_id, "Failed")
            raise

    def run(self) -> list[ImportResult]:
        """Per-file error isolation: one bad file is recorded as Failed
        and the rest of the directory still loads (the reference's
        nightly sweep semantics — one malformed delivery must not
        block the feed)."""
        results = []
        for p in self.discover():
            try:
                results.append(self.run_file(p))
            except Exception:
                results.append(ImportResult(p, -1, 0, "Failed"))
        if self.config.compact_max_files is not None:
            self.table.maybe_compact(self.config.compact_max_files)
        return results


def load_directory(
    spark: SparkSession,
    config: ImportConfig,
    registry: DatasetRegistry,
    data_root: str,
    audit=None,
) -> int:
    """Bulk path: ingest every matching file in ONE spark.read — the
    100 TB shape. Metadata (label, datasetdate) is derived per-row from
    ``input_file_name()`` (distributed, no per-file driver loop); one
    dataset row is registered per distinct (label, date) after the fact.

    Returns total rows loaded.
    """
    from etl_database_spark.metadata import file_metadata_columns

    pattern = config.file_pattern
    src = config.source_directory
    # File selection MUST agree with ImportJob.discover() (re.match,
    # anchored at the start): rlike is a substring search, so anchor
    # the regex explicitly. The glob prefilter is derived from the
    # pattern's literal extension when it has one (scan-cost
    # optimization only — the regex remains the filter of record).
    m = re.search(r"\\\.(\w+)$", pattern)
    glob = f"*.{m.group(1)}" if m else "*"
    df = (
        spark.read.option("header", "true")
        .option("sep", config.delimiter)
        .option("inferSchema", "false")
        .option("pathGlobFilter", glob)
        .csv(src)
        .where(
            F.element_at(F.split(F.input_file_name(), "/"), -1).rlike(f"^(?:{pattern})")
        )
    )
    label_col, date_col = file_metadata_columns(config.metadata)
    df = normalize_columns(df).withColumn("label", label_col).withColumn(
        "datasetdate", date_col
    )
    # Audited-scalar collect: (label, datasetdate) cardinality is
    # config-batch-sized (files per run), not data-sized — but a
    # malformed date pattern could explode it into per-row keys, so
    # bound the collect explicitly (limit k+1, check, raise) instead
    # of trusting the invariant silently.
    key_rows = (
        df.select("label", "datasetdate")
        .distinct()
        .limit(MAX_SNAPSHOT_KEYS + 1)
        .collect()
    )
    if len(key_rows) > MAX_SNAPSHOT_KEYS:
        raise ValueError(
            f"load_directory derived more than {MAX_SNAPSHOT_KEYS} distinct "
            "(label, datasetdate) snapshot keys in one batch — the metadata "
            "pattern is extracting per-row values, not per-file ones; fix "
            "the ImportConfig metadata spec"
        )
    keys = [(r["label"], r["datasetdate"]) for r in key_rows]
    type_id = registry.ensure_type(config.datasettype)
    source_id = registry.ensure_source(config.datasource)
    # One registry rewrite for all k keys (k separate register_snapshot
    # calls would each rewrite the registry — O(k) jobs for 1 needed).
    id_map = registry.register_snapshots([(d, label) for label, d in keys], type_id, source_id)
    mapping = spark.createDataFrame(
        [(label, d, i) for (label, d), i in id_map.items()],
        "label string, datasetdate date, datasetid long",
    )
    out = df.join(F.broadcast(mapping), ["label", "datasetdate"]).drop("label")
    # Row count observed during the append job itself (as in the
    # single-file path above) — the previous form re-read the whole
    # target table and semi-joined it, a full-table scan per bulk
    # import at 100 TB.
    obs = Observation()
    out = out.observe(obs, F.count(F.lit(1)).alias("rows"))
    table = TargetTable(spark, data_root, config.target_table, audit=audit)
    table.append(out, config.import_strategy)
    return obs.get["rows"]
