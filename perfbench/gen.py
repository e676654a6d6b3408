"""Seeded input generators for the benchmark.

Two kinds of input, both a pure function of the seed:

* ``write_tables`` writes the ten synthetic tables the registry queries
  read (``schemas.SYNTHETIC_TABLES``), one parquet file each, in the
  shape of the engine's test tables at sf0.01: TPC-H-like relational
  tables, a month of ``events``, short word-salad ``documents`` with a
  share of near-duplicates, and unit-norm 64-d ``embeddings``.
* ``CalendarGenerator`` writes headerless 10-column calendar CSV months
  in the reference push's shape (Date, Time, Currency, Event, Impact,
  Actual, Forecast, Previous, IsHoliday, WeekRange): skewed currencies, a
  few hundred event names, every date and time format the parsers
  accept, a share of unparseable rows, and re-publishes of earlier keys
  with newer values. It also keeps the expected table state (committed
  row count and the winning ``Actual`` per natural key), so the checker
  needs no second engine.

Every writer goes through pyarrow/csv with fixed options and no
wall-clock metadata, so one seed gives byte-identical files.
"""

from __future__ import annotations

import calendar
import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: Row counts per table (the sf0.01 shape of the engine's test tables).
TABLE_ROWS = {
    "region": 5,
    "nation": 25,
    "customer": 1500,
    "supplier": 100,
    "part": 2000,
    "orders": 15000,
    "lineitem": 60000,
    "events": 10000,
    "documents": 500,
    "embeddings": 500,
}

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()

_EPOCH_US = np.datetime64("1970-01-01T00:00:00", "us")


def _ts_us(values) -> pa.Array:
    return pa.array(np.asarray(values, dtype="datetime64[us]"), pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start: str, end: str, n: int) -> np.ndarray:
    lo = np.datetime64(start, "D")
    span = int((np.datetime64(end, "D") - lo).astype(int))
    return (lo + rng.integers(0, span + 1, n)).astype("datetime64[us]")


def _relational(rng: np.random.Generator) -> dict[str, pa.Table]:
    n = TABLE_ROWS
    region = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": _REGIONS,
    })
    nation = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(rng.integers(0, 5, 25), pa.int32()),
    })
    nc = n["customer"]
    customer = pa.table({
        "c_custkey": pa.array(np.arange(nc), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, nc),
        "c_mktsegment": list(rng.choice(_SEGMENTS, nc)),
    })
    ns = n["supplier"]
    supplier = pa.table({
        "s_suppkey": pa.array(np.arange(ns), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, ns),
    })
    npart = n["part"]
    part = pa.table({
        "p_partkey": pa.array(np.arange(npart), pa.int64()),
        "p_name": [
            f"{a} {b}"
            for a, b in zip(rng.choice(_PART_ADJ, npart), rng.choice(_PART_NOUN, npart))
        ],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, npart)],
        "p_type": list(rng.choice(_PART_TYPES, npart)),
        "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(npart) % 1000) * 0.1, 2),
    })
    no = n["orders"]
    orders = pa.table({
        "o_orderkey": pa.array(np.arange(no), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
        "o_orderstatus": list(rng.choice(["F", "O", "P"], no)),
        "o_totalprice": _money(rng, 1000.0, 500000.0, no),
        "o_orderdate": _ts_us(_days(rng, "1995-01-01", "2001-08-01", no)),
        "o_orderpriority": list(rng.choice(_PRIORITIES, no)),
    })
    nl = n["lineitem"]
    lineitem = pa.table({
        "l_orderkey": pa.array(rng.integers(0, no, nl), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, npart, nl), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
        "l_quantity": rng.integers(1, 51, nl).astype("float64"),
        "l_extendedprice": _money(rng, 900.0, 105000.0, nl),
        "l_discount": np.round(rng.integers(0, 11, nl) * 0.01, 2),
        "l_tax": np.round(rng.integers(0, 9, nl) * 0.01, 2),
        "l_returnflag": list(rng.choice(["A", "N", "R"], nl)),
        "l_linestatus": list(rng.choice(["F", "O"], nl)),
        "l_shipdate": _ts_us(_days(rng, "1995-01-02", "2001-11-04", nl)),
    })
    return {
        "region": region, "nation": nation, "customer": customer,
        "supplier": supplier, "part": part, "orders": orders,
        "lineitem": lineitem,
    }


def _events(rng: np.random.Generator) -> pa.Table:
    ne = TABLE_ROWS["events"]
    # one month of arrivals in event_id order, as in the test tables
    gaps_us = rng.exponential(30 * 86400e6 / ne, ne).astype("int64")
    ts = np.datetime64("2024-01-01T00:00:00", "us") + np.cumsum(gaps_us).astype("timedelta64[us]")
    return pa.table({
        "event_id": pa.array(np.arange(ne), pa.int64()),
        "ts": _ts_us(ts),
        "user_id": pa.array(rng.integers(0, ne // 66, ne), pa.int64()),
        "event_type": list(rng.choice(_EVENT_TYPES, ne)),
        "value": np.maximum(np.round(rng.exponential(50.0, ne), 2), 0.01),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
    })


def _documents(rng: np.random.Generator) -> pa.Table:
    nd = TABLE_ROWS["documents"]
    texts: list[str] = []
    for i in range(nd):
        if i > 0 and rng.random() < 0.05:
            # near-duplicate of an earlier document: the dedup kernels'
            # positives
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            n_words = int(rng.integers(8, 100))
            texts.append(" ".join(rng.choice(_WORDS, n_words)))
    return pa.table({
        "doc_id": pa.array(np.arange(nd), pa.int64()),
        "text": texts,
        "lang": list(rng.choice(_LANGS, nd)),
        "source": [f"src{i % 20}" for i in range(nd)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng: np.random.Generator) -> pa.Table:
    nv = TABLE_ROWS["embeddings"]
    vecs = rng.standard_normal((nv, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    vecs = vecs.astype("float32")
    return pa.table({
        "vec_id": pa.array(np.arange(nv), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, nv), pa.int32()),
    })


def write_tables(out_dir: str, seed: int) -> dict[str, int]:
    """Write the ten synthetic tables for ``seed`` under ``out_dir`` as
    ``{name}.parquet``; returns the total parquet bytes per table."""
    rng = np.random.default_rng(seed)
    tables = _relational(rng)
    tables["events"] = _events(rng)
    tables["documents"] = _documents(rng)
    tables["embeddings"] = _embeddings(rng)
    os.makedirs(out_dir, exist_ok=True)
    sizes = {}
    for name, table in tables.items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, path, compression="snappy")
        sizes[name] = os.path.getsize(path)
    return sizes


# ----------------------------------------------------------- calendar CSV

#: Currencies with a skewed share of the calendar (a few dominate, as in
#: real economic calendars).
CURRENCIES = ["USD", "EUR", "GBP", "JPY", "CNY", "AUD", "CAD", "CHF", "NZD",
              "SEK", "NOK", "MXN", "ZAR", "INR", "BRL", "KRW"]
_CURRENCY_WEIGHTS = 1.0 / np.arange(1, len(CURRENCIES) + 1) ** 1.2
_CURRENCY_WEIGHTS /= _CURRENCY_WEIGHTS.sum()

_INDICATORS = [
    "CPI", "Core CPI", "PPI", "GDP", "Retail Sales", "Unemployment Rate",
    "Trade Balance", "Industrial Production", "Manufacturing PMI",
    "Services PMI", "Housing Starts", "Building Permits", "Consumer Confidence",
    "Business Confidence", "Current Account", "Interest Rate Decision",
    "Average Earnings", "Employment Change", "Import Prices", "Export Prices",
    "Crude Oil Inventories", "Factory Orders", "Durable Goods Orders",
    "Jobless Claims", "Money Supply", "Private Loans", "Wholesale Inventories",
    "Capacity Utilization", "Existing Home Sales", "New Home Sales",
    "Budget Balance", "Bond Auction", "Labor Cost Index", "ZEW Sentiment",
    "Ifo Climate", "Tankan Index", "Leading Index", "Construction Output",
    "Machinery Orders", "Household Spending",
]
_QUALIFIERS = ["m/m", "y/y", "q/q", "Final", "Prelim", "Flash", "Revised"]

#: Render patterns per canonical date. The d/M and d-M forms are only used
#: when the day exceeds 12: the parser tries month-first forms first, so
#: an ambiguous day would land on another date (the documented parity).
_MONTH_NAMES = list(calendar.month_name)
_MONTH_ABBR = list(calendar.month_abbr)


def _render_date(d: dt.date, style: int) -> str:
    if style == 0:
        return d.strftime("%Y-%m-%d")
    if style == 1:
        return f"{d.day} {_MONTH_NAMES[d.month]} {d.year}"
    if style == 2:
        return f"{d.month}/{d.day}/{d.year}"
    if style == 3:
        return f"{d.day}/{d.month}/{d.year}" if d.day > 12 else f"{d.month}/{d.day}/{d.year}"
    if style == 4:
        return f"{d.year}/{d.month}/{d.day}"
    if style == 5:
        return f"{d.month}-{d.day}-{d.year}"
    if style == 6:
        return f"{d.day}-{d.month}-{d.year}" if d.day > 12 else f"{d.month}-{d.day}-{d.year}"
    if style == 7:
        return f"{_MONTH_ABBR[d.month]} {d.day}, {d.year}"
    return f"{_MONTH_NAMES[d.month]} {d.day}, {d.year}"


def _render_time(minute_of_day: int, style: int) -> str:
    h, m = divmod(minute_of_day, 60)
    if style == 0:
        return f"{h}:{m:02d}"
    if style == 1:
        h12 = h % 12 or 12
        return f"{h12}:{m:02d} {'AM' if h < 12 else 'PM'}"
    if style == 2:
        return f"{h:02d}:{m:02d}:00"
    return f"0 days {h:02d}:{m:02d}:00"


def _render_value(rng: np.random.Generator, v: float) -> str:
    style = int(rng.integers(0, 4))
    if style == 0:
        return f"{v:.1f}%"
    if style == 1:
        return f"{v:.1f}K"
    if style == 2:
        return f"{v / 1000:.2f}M"
    return f"{v:.2f}"


def _csv_field(s: str) -> str:
    return f'"{s}"' if ("," in s or '"' in s) else s


class CalendarGenerator:
    """Seeded monthly calendar pushes plus the expected table state.

    ``month(i)`` returns the CSV text of push ``i`` (pushes are months
    ``BASE_MONTH + i``) and folds the push into ``expected`` — the natural
    key ``(date, "HH:MM", currency, event)`` → winning ``Actual`` string.
    A key published again wins with its latest value: later pushes beat
    earlier ones, and within a push the later line wins.
    """

    BASE_MONTH = dt.date(2023, 1, 1)
    #: share of lines whose Date or Time no parser accepts
    BAD_SHARE = 0.03
    #: share of lines that re-publish an earlier key with a newer value
    REPUBLISH_SHARE = 0.08

    def __init__(self, seed: int, rows_per_month: int):
        self.rng = np.random.default_rng([seed, 7])
        self.rows = rows_per_month
        names = [f"{ind} {q}" for ind in _INDICATORS for q in _QUALIFIERS]
        picks = self.rng.choice(len(names), 250, replace=False)
        self.event_names = [names[i] for i in sorted(picks)]
        self.expected: dict[tuple, str] = {}
        self.lines_total = 0
        self.bad_total = 0

    def _month_start(self, i: int) -> dt.date:
        y, m = divmod(self.BASE_MONTH.month - 1 + i, 12)
        return dt.date(self.BASE_MONTH.year + y, m + 1, 1)

    def month(self, i: int) -> str:
        rng = self.rng
        start = self._month_start(i)
        n_days = calendar.monthrange(start.year, start.month)[1]
        earlier = list(self.expected)
        lines: list[str] = []
        for _ in range(self.rows):
            r = rng.random()
            if r < self.BAD_SHARE:
                key = None
            elif r < self.BAD_SHARE + self.REPUBLISH_SHARE and earlier:
                key = earlier[int(rng.integers(0, len(earlier)))]
            else:
                d = start + dt.timedelta(days=int(rng.integers(0, n_days)))
                minute = int(rng.integers(0, 96)) * 15
                cur = CURRENCIES[int(rng.choice(len(CURRENCIES), p=_CURRENCY_WEIGHTS))]
                ev = self.event_names[int(rng.integers(0, len(self.event_names)))]
                key = (d, f"{minute // 60:02d}:{minute % 60:02d}", cur, ev)
            actual = float(np.round(rng.normal(2.0, 3.0), 1))
            forecast = float(np.round(actual + rng.normal(0, 0.5), 1))
            previous = float(np.round(actual + rng.normal(0, 1.0), 1))
            impact = ["low", "medium", "high", "High", ""][int(rng.integers(0, 5))]
            if key is None:
                d = start + dt.timedelta(days=int(rng.integers(0, n_days)))
                if rng.random() < 0.5:
                    date_s, time_s = "N/A", "10:00"
                else:
                    date_s, time_s = _render_date(d, 0), ["All Day", "Tentative"][int(rng.integers(0, 2))]
                cur = CURRENCIES[0]
                ev = self.event_names[0]
                actual_s = _render_value(rng, actual)
                self.bad_total += 1
            else:
                d, hhmm, cur, ev = key
                date_s = _render_date(d, int(rng.integers(0, 9)))
                h, m = map(int, hhmm.split(":"))
                time_s = _render_time(h * 60 + m, int(rng.integers(0, 4)))
                actual_s = _render_value(rng, actual)
                # insertion order keeps "earlier" stable; re-assignment
                # records the newer value
                self.expected[key] = actual_s
            week = f"{start.isoformat()} - {(start + dt.timedelta(days=6)).isoformat()}"
            fields = [
                date_s, time_s, cur, ev, impact, actual_s,
                _render_value(rng, forecast), _render_value(rng, previous),
                "No", week,
            ]
            lines.append(",".join(_csv_field(f) for f in fields))
        self.lines_total += len(lines)
        return "\n".join(lines) + "\n"

    def month_label(self, i: int) -> str:
        return self._month_start(i).strftime("%Y-%m")
