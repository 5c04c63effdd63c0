"""Seeded input generators for the benchmark workloads.

Everything the program reads is produced here, from the seed alone, so
a change to the program can never change its own inputs:

- ``MedallionModel`` writes the price CSVs the pipeline ingests (an
  initial history plus one landing batch per simulated trading day)
  and keeps, in plain Python, the values every table must hold after
  each batch;
- ``write_drive_tables`` writes the ``orders`` and ``events`` parquet
  tables the table-maintenance drives read.
"""

from __future__ import annotations

import random
from dataclasses import dataclass, field
from datetime import date, datetime, timedelta
from pathlib import Path

# The warehouse shape. Symbols (the partitions each batch touches) and
# history length (the rows silver and gold rewrite) set a daily batch's
# cost. This is the largest measured shape whose run fits the run
# budget of the benchmark; README.md gives the measurements.
N_SYMBOLS = 24
N_FX = 3  # the last symbols are FX pairs, whose CSVs carry no Volume
HISTORY_START = date(2005, 1, 3)
HISTORY_DAYS = 3 * 261  # three years of weekdays
RESTATE_SHARE = 0.25  # share of symbols whose latest days a batch restates
RESTATE_DEPTH = 3
REJECT_SYMBOL = "ZZREJ"
# One row per reason the silver stage can route. A row with an empty
# date never reaches silver: bronze drops it as a missing key.
REJECT_KINDS = (
    "missing_prices",
    "non_positive_price",
    "ohlc_inconsistent",
    "invalid_volume",
)
REJECT_DATE0 = date(2100, 1, 1)
ABS_RETURN = 0.10  # QualityThresholds.abs_return
GAP_DAYS = 4  # QualityThresholds.gap_days


def _weekdays(start: date, n: int) -> list[date]:
    out, d = [], start
    while len(out) < n:
        if d.weekday() < 5:
            out.append(d)
        d += timedelta(days=1)
    return out


def _next_weekday(d: date) -> date:
    d += timedelta(days=1)
    while d.weekday() >= 5:
        d += timedelta(days=1)
    return d


@dataclass
class MedallionModel:
    """Price history for ``N_SYMBOLS`` symbols over ``HISTORY_DAYS``
    weekdays, the last ``N_FX`` of them FX pairs.

    ``rows[symbol][date]`` is the (open, high, low, close, volume) row
    bronze must hold for that key after the batches landed so far;
    ``batches`` records, per landed batch, its trading day and the
    ingest timestamp the pipeline was given.
    """

    seed: int
    rows: dict[str, dict[date, tuple]] = field(default_factory=dict)
    rejects: dict[date, str] = field(default_factory=dict)
    batches: list[tuple[date, datetime]] = field(default_factory=list)
    csv_bytes: int = 0

    def __post_init__(self) -> None:
        self.rng = random.Random(self.seed)
        self.symbols = [f"EQ{i:03d}" for i in range(N_SYMBOLS - N_FX)]
        self.symbols += [f"FX{i:03d}" for i in range(N_FX)]
        days = _weekdays(HISTORY_START, HISTORY_DAYS)
        self.last_day = days[-1]
        for s in self.symbols:
            # a seeded week-long hole in some histories exercises the
            # gap check; it sits inside the history so every batch
            # reports it again
            hole = set()
            if self.rng.random() < 0.25:
                i = self.rng.randrange(30, len(days) - 30)
                hole = set(days[i:i + 5])
            price = self.rng.uniform(20.0, 400.0)
            series: dict[date, tuple] = {}
            for d in days:
                if d in hole:
                    continue
                series[d] = self._bar(s, price)
                price = series[d][3]
            self.rows[s] = series

    def _bar(self, symbol: str, prev_close: float) -> tuple:
        rng = self.rng
        ret = max(-0.04, min(0.04, rng.gauss(0.0, 0.012)))
        if rng.random() < 0.004:
            ret = rng.choice((-0.2, 0.25))  # a jump the DQ check flags
        close = round(prev_close * (1.0 + ret), 4)
        open_ = round(prev_close * (1.0 + rng.uniform(-0.005, 0.005)), 4)
        high = round(max(open_, close) * (1.0 + rng.uniform(0.0, 0.01)), 4)
        low = round(min(open_, close) * (1.0 - rng.uniform(0.0, 0.01)), 4)
        volume = None if symbol.startswith("FX") else rng.randrange(1_000, 5_000_000)
        return (open_, high, low, close, volume)

    # -- CSV landing -------------------------------------------------

    def _write(self, landing: Path, symbol: str, keyed: dict) -> None:
        fx = symbol.startswith("FX")
        lines = ["Date,Open,High,Low,Close" + ("" if fx else ",Volume")]
        for d in sorted(keyed):
            o, h, l_, c, v = keyed[d]
            cells = [d.isoformat(), repr(o), repr(h), repr(l_), repr(c)]
            if not fx:
                cells.append(str(v))
            lines.append(",".join(cells))
        data = ("\n".join(lines) + "\n").encode()
        (landing / f"{symbol}.csv").write_bytes(data)
        self.csv_bytes += len(data)

    def _write_rejects(self, landing: Path, batch_no: int) -> None:
        d0 = REJECT_DATE0 + timedelta(days=len(REJECT_KINDS) * batch_no)
        rows = [
            "Date,Open,High,Low,Close,Volume",
            # missing key: bronze drops it before the upsert
            ",10.0,11.0,9.0,10.5,100",
            f"{d0},10.0,11.0,9.0,abc,100",
            f"{d0 + timedelta(days=1)},-1.0,11.0,9.0,10.5,100",
            f"{d0 + timedelta(days=2)},10.0,8.0,9.0,10.5,100",
            f"{d0 + timedelta(days=3)},10.0,11.0,9.0,10.5,-5",
        ]
        for i, kind in enumerate(REJECT_KINDS):
            self.rejects[d0 + timedelta(days=i)] = kind
        data = ("\n".join(rows) + "\n").encode()
        (landing / f"{REJECT_SYMBOL}.csv").write_bytes(data)
        self.csv_bytes += len(data)

    def write_history(self, landing: Path) -> int:
        """Land the whole initial history; returns the bytes written."""
        landing.mkdir(parents=True, exist_ok=True)
        before = self.csv_bytes
        for s in self.symbols:
            self._write(landing, s, self.rows[s])
        self._write_rejects(landing, 0)
        self.batches.append((self.last_day, self._ingest_ts(self.last_day)))
        return self.csv_bytes - before

    def write_batch(self, landing: Path) -> int:
        """Land the next trading day: a new bar for every symbol,
        restatements of the latest ``RESTATE_DEPTH`` days for a seeded
        share of symbols, and one row per reject reason. Returns the
        bytes written."""
        landing.mkdir(parents=True, exist_ok=True)
        before = self.csv_bytes
        day = _next_weekday(self.last_day)
        n_restate = max(1, round(RESTATE_SHARE * len(self.symbols)))
        restated = set(self.rng.sample(self.symbols, n_restate))
        for s in self.symbols:
            series = self.rows[s]
            keyed = {}
            if s in restated:
                for d in sorted(series)[-RESTATE_DEPTH:]:
                    o, h, l_, c, v = series[d]
                    c2 = round(c * (1.0 + self.rng.uniform(-0.002, 0.002)), 4)
                    keyed[d] = (o, max(h, c2), min(l_, c2), c2, v)
            keyed[day] = self._bar(s, series[max(series)][3])
            series.update(keyed)
            self._write(landing, s, keyed)
        self._write_rejects(landing, len(self.batches))
        self.last_day = day
        self.batches.append((day, self._ingest_ts(day)))
        return self.csv_bytes - before

    @staticmethod
    def _ingest_ts(day: date) -> datetime:
        return datetime(day.year, day.month, day.day, 22, 0, 0)

    # -- expected table contents ----------------------------------------

    def bronze_rows(self) -> int:
        return sum(len(v) for v in self.rows.values()) + len(self.rejects)

    def silver_rows(self) -> int:
        return sum(len(v) for v in self.rows.values())

    def expected_dq(self) -> dict[str, int]:
        """DQ rows one quality run appends over the current tables."""
        gaps = jumps = 0
        for series in self.rows.values():
            days = sorted(series)
            for a, b in zip(days, days[1:]):
                if (b - a).days > GAP_DAYS:
                    gaps += 1
                r = series[b][3] / series[a][3] - 1.0
                if abs(r) > ABS_RETURN:
                    jumps += 1
        return {
            "missing_trading_days_gap": gaps,
            "sudden_price_jump": jumps,
            "stale_data": 0,
            "row_counts": 1,
        }

    def row_counts_detail(self) -> str:
        b, s = self.bronze_rows(), self.silver_rows()
        return f"row counts: bronze={b}, gold={s}, silver={s}"


def write_drive_tables(root: Path, seed: int) -> int:
    """Write ``orders.parquet`` and ``events.parquet`` with the shapes
    the table-maintenance drives read, at the sf0.1 test corpus's row
    counts. Returns the bytes written."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    root.mkdir(parents=True, exist_ok=True)
    n_orders, n_events = 150_000, 100_000
    n_cust = max(1, n_orders // 10)
    day0 = np.datetime64("1995-01-01", "us")
    n_days = 2400
    orders = pa.table({
        "o_orderkey": pa.array(np.arange(n_orders, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_orders, dtype=np.int64)),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n_orders)),
        "o_totalprice": pa.array(
            np.round(rng.uniform(1000.0, 500_000.0, n_orders), 2)),
        "o_orderdate": pa.array(
            day0 + rng.integers(0, n_days, n_orders) * np.timedelta64(1, "D"),
            pa.timestamp("us")),
        "o_orderpriority": pa.array(rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"],
            n_orders)),
    })
    month_us = 30 * 86_400 * 1_000_000
    ts = np.sort(rng.integers(0, month_us, n_events))
    events = pa.table({
        "event_id": pa.array(np.arange(n_events, dtype=np.int64)),
        "ts": pa.array(np.datetime64("2024-01-01", "us")
                       + ts.astype("timedelta64[us]"), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 150, n_events, dtype=np.int64)),
        "event_type": pa.array(rng.choice(
            ["click", "view", "signup", "purchase", "error"], n_events)),
        "value": pa.array(np.round(rng.uniform(0.01, 490.0, n_events), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)]),
    })
    total = 0
    for name, table in (("orders", orders), ("events", events)):
        path = root / f"{name}.parquet"
        pq.write_table(table, path)
        total += path.stat().st_size
    return total
