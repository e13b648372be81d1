"""Structured Streaming tier (SURVEY.md §2.9 mapping, §7.5 extension).

The reference is strictly daily batch (cron + TRUNCATE-reload,
reference: dags/financial_pipeline.py:95,43,182) — there is nothing to
port. This package is the forward-looking streaming surface the same
engine exposes: event-time windowed aggregates with watermarks, session
windows, and a custom stateful operator (per-key pct-change) via
``applyInPandasWithState``.

Design rule: every windowed transformation here is written against a
plain DataFrame, so the SAME function body serves `spark.read` (batch,
oracle-checkable against DuckDB) and `spark.readStream` (incremental).
That is the Structured Streaming contract — a streaming query is a batch
query Spark runs incrementally — and it makes the batch path the
differential oracle for the streaming path in tests.
"""

from .io import (
    read_events_batch,
    read_events_stream,
    run_available_now,
    run_decontaminate_to_parquet,
)
from .stateful import (
    pct_change_reordered,
    pct_change_stateful,
)
from .windows import (
    contamination_pregate_flags,
    dedup_by_signature,
    dedup_events,
    session_stats,
    windowed_event_kpis,
    windowed_volatility,
)

__all__ = [
    "contamination_pregate_flags",
    "dedup_by_signature",
    "dedup_events",
    "run_decontaminate_to_parquet",
    "read_events_batch",
    "read_events_stream",
    "run_available_now",
    "pct_change_reordered",
    "pct_change_stateful",
    "session_stats",
    "windowed_event_kpis",
    "windowed_volatility",
]
