"""Seeded quotes input for the pipeline benchmark.

One random-walk OHLCV panel (``TICKERS`` instruments over ``DAYS`` business
days) written as the reference's headered CSV, plus:

- one zero close, so the day after it takes the NULLIF path (NULL change);
- ``SINGLETON``, a ticker with two rows only: its one non-NULL change makes a
  singleton week, whose sample stddev is NULL;
- the last ``HOLDOUT`` days held out of ``history.csv`` and written as one
  per-day CSV drop each, for the incremental workload.

The calendar is 40 business days of one year, more than 32 even before the
held-out days land, so the fact table's ``ano=`` directory holds enough
``data_id=`` directories for Spark to list them with a parallel job on
every read, as each year of the paper's ten-year table does. The scale
(300 tickers, as in the paper, but 40 days instead of 2,500) is set by the
benchmark's time budget: a run must start Spark, build the warehouse and
time five or more operations in about a minute.
"""

from __future__ import annotations

import datetime as dt
import os
from dataclasses import dataclass

import numpy as np

TICKERS = 300
DAYS = 40
HOLDOUT = 5
FIRST_DAY = "2016-01-04"
SINGLETON = "ZZSNGL"
HEADER = "date,symbol,open,high,low,close,volume\n"


@dataclass
class Inputs:
    full_csv: str
    history_csv: str
    drops: list[tuple[dt.date, str]]  # (day, csv path), in day order
    days: list[dt.date]
    tickers: list[str]
    rows: int
    history_rows: int

    def sizes(self) -> dict[str, int]:
        return {
            "rows": self.rows,
            "history_rows": self.history_rows,
            "full_csv_bytes": os.path.getsize(self.full_csv),
            "history_csv_bytes": os.path.getsize(self.history_csv),
            "drop_csv_bytes": sum(os.path.getsize(p) for _, p in self.drops),
        }


def _lines(days, tickers, close, open_, high, low, volume, cols) -> list[str]:
    return [
        f"{days[j]},{tickers[i]},{open_[i, j]:.4f},{high[i, j]:.4f},"
        f"{low[i, j]:.4f},{close[i, j]:.4f},{volume[i, j]}\n"
        for j in cols
        for i in range(len(tickers))
    ]


def generate(seed: int, out_dir: str) -> Inputs:
    """Write every input CSV under ``out_dir``; same seed, same bytes."""
    rng = np.random.default_rng(seed)
    days = [
        dt.date.fromisoformat(str(d))
        for d in np.busday_offset(FIRST_DAY, np.arange(DAYS), roll="forward")
    ]
    tickers = [f"T{i:03d}" for i in range(TICKERS)]
    steps = rng.normal(0.0, 0.02, (TICKERS, DAYS))
    close = np.round(rng.uniform(20, 200, (TICKERS, 1)) * np.exp(np.cumsum(steps, 1)), 4)
    open_ = np.round(close * np.exp(rng.normal(0.0, 0.005, close.shape)), 4)
    high = np.maximum(open_, close) + np.round(rng.uniform(0, 1, close.shape), 4)
    low = np.maximum(np.minimum(open_, close) - np.round(rng.uniform(0, 1, close.shape), 4), 0.01)
    volume = rng.integers(10_000, 5_000_000, close.shape)
    # the zero close sits in the history, away from the first day and the drops
    close[rng.integers(TICKERS), rng.integers(1, DAYS - HOLDOUT - 1)] = 0.0

    os.makedirs(out_dir, exist_ok=True)
    history = _lines(days, tickers, close, open_, high, low, volume, range(DAYS - HOLDOUT))
    k = int(rng.integers(0, DAYS - HOLDOUT - 1))
    singleton = [f"{days[j]},{SINGLETON},10.0,10.0,10.0,{10.0 + j - k:.4f},1000\n" for j in (k, k + 1)]
    history += singleton
    held = [
        (days[j], _lines(days, tickers, close, open_, high, low, volume, [j]))
        for j in range(DAYS - HOLDOUT, DAYS)
    ]

    def write(path: str, lines: list[str]) -> str:
        with open(path, "w", encoding="utf-8") as fh:
            fh.write(HEADER)
            fh.writelines(lines)
        return path

    history_csv = write(os.path.join(out_dir, "history.csv"), history)
    full_csv = write(
        os.path.join(out_dir, "quotes.csv"),
        history + [line for _, lines in held for line in lines],
    )
    drops_dir = os.path.join(out_dir, "drops")
    os.makedirs(drops_dir, exist_ok=True)
    drops = [(d, write(os.path.join(drops_dir, f"{d}.csv"), lines)) for d, lines in held]
    return Inputs(
        full_csv=full_csv,
        history_csv=history_csv,
        drops=drops,
        days=days,
        tickers=tickers + [SINGLETON],
        rows=len(history) + TICKERS * HOLDOUT,
        history_rows=len(history),
    )
