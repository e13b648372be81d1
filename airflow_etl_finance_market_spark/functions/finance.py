"""Finance expression helpers (SURVEY.md §2.5 W1-W2, §2.8 F7/F11).

The daily %-change is the reference's core derived measure
(reference: dags/financial_pipeline.py:192-193):

    (close - LAG(close) OVER (PARTITION BY symbol ORDER BY date))
      / NULLIF(LAG(close) ...), 0) * 100

NULL semantics carried over exactly: the first row of each partition and a
zero prior close both yield NULL (propagates through stddev, which ignores
NULLs in both engines).

Scale note: the window shuffles once on the partition key; every per-key
derived series downstream (weekly buckets, volatility) reuses that
partitioning, so the whole fact build is a single exchange.
"""

from __future__ import annotations

from pyspark.sql import Column, Window, WindowSpec
from pyspark.sql import functions as F


def series_window(partition_col: str, *order_cols: str) -> WindowSpec:
    """Per-instrument time-series window. Pass extra order columns to make the
    order total when timestamps can tie (keeps LAG deterministic and
    oracle-comparable)."""
    return Window.partitionBy(partition_col).orderBy(*order_cols)


def pct_change(col: Column | str, w: WindowSpec) -> Column:
    """Daily %-change with the NULLIF zero-division guard (W2 + F7)."""
    c = F.col(col) if isinstance(col, str) else col
    prev = F.lag(c, 1).over(w)
    return (c - prev) / F.nullif(prev, F.lit(0)) * F.lit(100)
