"""Min-max normalization + weighted profile scoring (SURVEY.md §2.4 A10, F11).

Mirrors the notebook's investment-profile scoring
(reference: analysis/análise_exploratória.ipynb → cell f927e059): per-group
aggregates are scaled to 0-100 with (x - min)/(max - min)*100 and combined
with fixed weights.

Implementation note — global min/max over a *small aggregate* (one row per
group) is computed with an un-partitioned window. That collapses the frame to
a single partition, which is exactly right here because the input is already
one-row-per-group (30 tickers / 25 brands — bytes, not data). For scaling a
LARGE frame, use the two-step form instead: ``agg(min, max)`` to one row and
a broadcast crossJoin — same result, no single-partition bottleneck.
"""

from __future__ import annotations

from pyspark.sql import Column, Window
from pyspark.sql import functions as F


def minmax_scale(col: str, *, out: str | None = None) -> Column:
    """0-100 min-max scaling expression over the whole frame (window form).

    NULL when max == min (NULLIF guard — same zero-division semantics as the
    reference's % change, F7).
    """
    w = Window.partitionBy()
    lo, hi = F.min(col).over(w), F.max(col).over(w)
    expr = (F.col(col) - lo) / F.nullif(hi - lo, F.lit(0)) * F.lit(100)
    return expr.alias(out or f"{col}_scaled")


def weighted_score(weights: dict[str, float], *, out: str = "score") -> Column:
    """Fixed-weight linear combination of (already scaled) columns."""
    expr = F.lit(0.0)
    for c, w in weights.items():
        expr = expr + F.col(c) * F.lit(w)
    return expr.alias(out)
