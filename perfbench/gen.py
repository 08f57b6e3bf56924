"""Seeded inputs for the benchmark workloads.

Everything here is a pure function of the seed: the same seed writes
byte-identical files. The program under test only ever sees these files.

- ``star_schema``: the TPC-H-shaped star schema plus ``events`` and
  ``documents`` that the registered queries read (the sf0.1 row counts and
  value ranges of the repository's test fixtures, regenerated here because
  the benchmark reads nothing outside its checkout).
- ``feed_day``: one delivery day of the feed (two sources' events CSVs,
  orders XLSX, a corrected redelivery of yesterday's web events and an
  invalid alerts file), at the star schema's per-day volume.
- ``documents`` / ``events``: the documents and the event stream that the
  store workload ingests in day-batches.

XLSX files are written with a stdlib zip writer (inline strings), which is
the format the program's stdlib OOXML reader accepts when openpyxl is absent.
"""

from __future__ import annotations

import csv
import datetime as dt
import os
import zipfile
from xml.sax.saxutils import escape

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
LANGS = ["de", "en", "en", "en", "es", "fr", "zh"]
EVENT_EPOCH = dt.datetime(2024, 1, 1)


def _days(rng, start: str, end: str, n: int) -> np.ndarray:
    lo = np.datetime64(start, "D")
    hi = np.datetime64(end, "D")
    span = int((hi - lo).astype(int)) + 1
    return (lo + rng.integers(0, span, n)).astype("datetime64[us]")


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(out: str, name: str, cols: dict) -> int:
    table = pa.table(cols)
    pq.write_table(table, os.path.join(out, f"{name}.parquet"))
    return table.num_rows


def _text(rng, n_words: int) -> str:
    return " ".join(WORDS[i] for i in rng.integers(0, len(WORDS), n_words))


def _mutate(rng, text: str, n_changes: int) -> str:
    words = text.split(" ")
    for i in rng.integers(0, len(words), n_changes):
        words[i] = WORDS[rng.integers(0, len(WORDS))]
    return " ".join(words)


def documents(seed: int, n: int) -> list[tuple[int, str]]:
    """``n`` (doc_id, text) rows. Every 12th doc is a lightly edited copy of
    a random earlier one (Jaccard well above 0.5) and every 25th a heavily
    edited copy (around the 0.5 threshold), so verified pairs cross batch
    boundaries and every 100-doc batch plants the same number of them."""
    rng = np.random.default_rng([seed, 1])
    docs: list[tuple[int, str]] = []
    for i in range(n):
        if i > 10 and i % 12 == 5:
            src = docs[int(rng.integers(0, i))][1]
            docs.append((i, _mutate(rng, src, int(rng.integers(1, 4)))))
        elif i > 10 and i % 25 == 7:
            src = docs[int(rng.integers(0, i))][1]
            docs.append((i, _mutate(rng, src, int(rng.integers(6, 14)))))
        else:
            docs.append((i, _text(rng, int(rng.integers(8, 90)))))
    return docs


def events(seed: int, n: int, n_users: int, n_days: int = 30) -> dict:
    """Event stream columns over ``n_days`` days from 2024-01-01, sorted by
    time, ``event_id`` in time order."""
    rng = np.random.default_rng([seed, 2])
    offs = np.sort(rng.integers(0, n_days * 86_400 * 1_000_000, n))
    return {
        "event_id": np.arange(n, dtype=np.int64),
        "ts": np.datetime64(EVENT_EPOCH, "us") + offs.astype("timedelta64[us]"),
        "user_id": rng.integers(0, n_users, n).astype(np.int64),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, len(EVENT_TYPES), n)],
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": np.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    }


def star_schema(out: str, seed: int, sf: float = 0.1) -> dict[str, int]:
    """Write the query tables as one parquet file each; returns row counts."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng([seed, 0])
    n_cust, n_supp = int(150_000 * sf), int(10_000 * sf)
    n_part, n_ord, n_li = int(200_000 * sf), int(1_500_000 * sf), int(6_000_000 * sf)
    rows = {
        "region": _write(out, "region", {
            "r_regionkey": np.arange(5, dtype=np.int32), "r_name": REGIONS,
        }),
        "nation": _write(out, "nation", {
            "n_nationkey": np.arange(25, dtype=np.int32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": (np.arange(25) % 5).astype(np.int32),
        }),
        "customer": _write(out, "customer", {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": _money(rng, -999, 9999, n_cust),
            "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
        }),
        "supplier": _write(out, "supplier", {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": _money(rng, -999, 9999, n_supp),
        }),
        "part": _write(out, "part", {
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": np.array(["blue ring", "hot bolt", "large ring", "steel nut"])[
                rng.integers(0, 4, n_part)
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": np.array(["ECONOMY", "LARGE", "MEDIUM", "SMALL", "STANDARD"])[
                rng.integers(0, 5, n_part)
            ],
            "p_size": rng.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": np.round(900 + np.arange(n_part) % 1000 * 0.1, 2),
        }),
        "orders": _write(out, "orders", {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            # a tenth of the customers never order (anti-join rows)
            "o_custkey": rng.integers(0, int(n_cust * 0.9), n_ord).astype(np.int64),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
            "o_totalprice": _money(rng, 1000, 500_000, n_ord),
            "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n_ord),
            "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)],
        }),
        "lineitem": _write(out, "lineitem", {
            "l_orderkey": rng.integers(0, n_ord, n_li).astype(np.int64),
            "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
            "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
            "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
            "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
            "l_extendedprice": _money(rng, 900, 105_000, n_li),
            "l_discount": np.round(rng.integers(0, 11, n_li) * 0.01, 2),
            "l_tax": np.round(rng.integers(0, 9, n_li) * 0.01, 2),
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
            "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", n_li),
        }),
        "events": _write(out, "events", events(seed, int(1_000_000 * sf), int(15_000 * sf))),
    }
    docs = documents(seed, int(50_000 * sf))
    rows["documents"] = _write(out, "documents", {
        "doc_id": np.array([d for d, _ in docs], dtype=np.int64),
        "text": [t for _, t in docs],
        "lang": np.array(LANGS)[rng.integers(0, len(LANGS), len(docs))],
        "source": [f"src{d % 20}" for d, _ in docs],
        "n_chars": np.array([len(t) for _, t in docs], dtype=np.int64),
    })
    return rows


# -- feed deliveries ------------------------------------------------------------

EVENT_HEADER = ["Event ID", "TS", "User ID", "Event Type", "Value", "Props"]
ORDER_HEADER = ["Order Key", "Cust Key", "Status", "Total Price", "Priority"]
# One delivery day carries the star schema's sf0.1 volume per day: its
# 100,000 events over 30 days by 1,500 users, split between two sources,
# and its 150,000 orders over the 2,404 days 1995-01-01 .. 2001-08-01
# (by 15,000 customers).
DAY_EVENTS = 100_000 // 30
DAY_USERS = 1_500
DAY_ORDERS = 150_000 // 2_404
DAY_CUSTOMERS = 15_000
EVENT_SOURCES = ("web", "app")


def feed_date(day: int) -> dt.date:
    return dt.date(2024, 1, 1) + dt.timedelta(days=day)


def _event_rows(seed: int, day: int, n: int, drift: bool) -> list[list]:
    rng = np.random.default_rng([seed, 3, day])
    base = dt.datetime.combine(feed_date(day), dt.time())
    secs = np.sort(rng.integers(0, 86_400, n))
    rows = []
    for i in range(n):
        row = [
            day * 100_000 + i,
            (base + dt.timedelta(seconds=int(secs[i]))).isoformat(sep=" "),
            int(rng.integers(0, DAY_USERS)),
            EVENT_TYPES[int(rng.integers(0, 5))],
            f"{rng.exponential(50.0):.2f}",
            f'{{"k": {int(rng.integers(0, 100))}}}',
        ]
        if drift:
            row.append(["web", "mobile", "api"][int(rng.integers(0, 3))])
        rows.append(row)
    return rows


def _write_csv(path: str, header: list[str], rows: list[list]) -> None:
    with open(path, "w", newline="") as f:
        w = csv.writer(f)
        w.writerow(header)
        w.writerows(rows)


def _cell_ref(col: int, row: int) -> str:
    letters = ""
    col += 1
    while col:
        col, rem = divmod(col - 1, 26)
        letters = chr(65 + rem) + letters
    return f"{letters}{row}"


def write_xlsx(path: str, header: list[str], rows: list[list]) -> None:
    """Minimal one-sheet OOXML workbook: strings inline, numbers as values."""
    out = []
    for r, values in enumerate([header, *rows], start=1):
        cells = []
        for c, v in enumerate(values):
            ref = _cell_ref(c, r)
            if isinstance(v, (int, float)) and not isinstance(v, bool):
                cells.append(f'<c r="{ref}"><v>{v}</v></c>')
            else:
                cells.append(f'<c r="{ref}" t="inlineStr"><is><t>{escape(str(v))}</t></is></c>')
        out.append(f'<row r="{r}">{"".join(cells)}</row>')
    ns = "http://schemas.openxmlformats.org/spreadsheetml/2006/main"
    rel_ns = "http://schemas.openxmlformats.org/officeDocument/2006/relationships"
    pkg_ns = "http://schemas.openxmlformats.org/package/2006/relationships"
    parts = {
        "[Content_Types].xml": (
            '<?xml version="1.0" encoding="UTF-8"?>'
            '<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">'
            '<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>'
            '<Default Extension="xml" ContentType="application/xml"/>'
            '<Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>'
            '<Override PartName="/xl/worksheets/sheet1.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>'
            "</Types>"
        ),
        "_rels/.rels": (
            f'<?xml version="1.0" encoding="UTF-8"?><Relationships xmlns="{pkg_ns}">'
            f'<Relationship Id="rId1" Type="{rel_ns}/officeDocument" Target="xl/workbook.xml"/>'
            "</Relationships>"
        ),
        "xl/workbook.xml": (
            f'<?xml version="1.0" encoding="UTF-8"?><workbook xmlns="{ns}" xmlns:r="{rel_ns}">'
            '<sheets><sheet name="Sheet1" sheetId="1" r:id="rId1"/></sheets></workbook>'
        ),
        "xl/_rels/workbook.xml.rels": (
            f'<?xml version="1.0" encoding="UTF-8"?><Relationships xmlns="{pkg_ns}">'
            f'<Relationship Id="rId1" Type="{rel_ns}/worksheet" Target="worksheets/sheet1.xml"/>'
            "</Relationships>"
        ),
        "xl/worksheets/sheet1.xml": (
            f'<?xml version="1.0" encoding="UTF-8"?><worksheet xmlns="{ns}">'
            f'<sheetData>{"".join(out)}</sheetData></worksheet>'
        ),
    }
    with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED) as zf:
        for name, text in parts.items():
            # fixed timestamp: the same seed must give byte-identical files
            zf.writestr(zipfile.ZipInfo(name, date_time=(2024, 1, 1, 0, 0, 0)), text)


def event_file(out: str, seed: int, day: int, n: int, drift: bool, source: str = "events",
               share: tuple[int, int] = (0, 1), keep=lambda i: True) -> dict:
    """Write ``<source>_<date>.csv``: of ``day``'s ``n`` events, those whose
    index is ``share[0]`` modulo ``share[1]`` and whose index within the file
    passes ``keep``. Returns its row count and user ids."""
    os.makedirs(out, exist_ok=True)
    header = EVENT_HEADER + (["Channel"] if drift else [])
    part = _event_rows(seed, day, n, drift)[share[0]::share[1]]
    rows = [r for i, r in enumerate(part) if keep(i)]
    _write_csv(os.path.join(out, f"{source}_{feed_date(day):%Y%m%d}.csv"), header, rows)
    return {"rows": len(rows), "users": {r[2] for r in rows}}


def feed_day(out: str, seed: int, day: int, redeliver: bool,
             drift: bool) -> dict[tuple[str, dt.date], dict]:
    """Write one delivery day into ``out``. Returns, per (label, date) the
    day delivers, the truth the output check needs: rows and user ids of
    the last delivery of that key, and whether it is the invalid file.

    The day delivers today's events, half from each of the two sources
    (one CSV each), today's orders (XLSX) and an alerts file whose content
    is the invalid-delivery marker. With ``redeliver`` it also re-sends
    yesterday's web events, corrected: every tenth row dropped, so the
    superseding snapshot has other row counts. ``drift`` adds a ``Channel``
    column to the events files (strategy-1 schema evolution)."""
    date = feed_date(day)
    stamp = f"{date:%Y%m%d}"
    n = len(EVENT_SOURCES)
    truth = {
        (src, date): event_file(out, seed, day, DAY_EVENTS, drift, src, (i, n))
        for i, src in enumerate(EVENT_SOURCES)
    }
    if redeliver:
        # yesterday's rows regenerated from the seed with today's columns
        truth[(EVENT_SOURCES[0], feed_date(day - 1))] = event_file(
            out, seed, day - 1, DAY_EVENTS, drift, EVENT_SOURCES[0], (0, n),
            keep=lambda i: i % 10 != 0)
    rng = np.random.default_rng([seed, 4, day])
    orders = [
        [
            day * 100_000 + i,
            int(rng.integers(0, DAY_CUSTOMERS)),
            ["F", "O", "P"][int(rng.integers(0, 3))],
            float(round(rng.uniform(1000, 500_000), 2)),
            PRIORITIES[int(rng.integers(0, 5))],
        ]
        for i in range(DAY_ORDERS)
    ]
    write_xlsx(os.path.join(out, f"orders_{stamp}.xlsx"), ORDER_HEADER, orders)
    truth[("orders", date)] = {"rows": len(orders)}
    _write_csv(os.path.join(out, f"alerts_{stamp}.csv"), ["Event ID", "Message"],
               [["Invalid Event ID", f"no events for {date}"]])
    truth[("alerts", date)] = {"rows": 0, "invalid": True}
    return truth


def data_files(path: str) -> dict[str, os.stat_result]:
    """Data files under ``path`` and their stat (hidden and
    underscore-prefixed sidecars and Spark's .crc checksums excluded)."""
    out = {}
    for root, _, files in os.walk(path):
        for f in files:
            if not f.startswith((".", "_")) and not f.endswith(".crc"):
                out[os.path.join(root, f)] = os.stat(os.path.join(root, f))
    return out


def dir_bytes(path: str) -> int:
    """Bytes of the data files under ``path``."""
    return sum(st.st_size for st in data_files(path).values())
