"""Event-time windowed aggregates (SURVEY.md §2.9 mapping).

Each function takes a DataFrame and returns a DataFrame; pass a batch
frame and it is an ordinary oracle-checkable group-by, pass a streaming
frame (plus a watermark) and Spark runs it incrementally. The weekly
DATE_TRUNC volatility bucketing of the reference
(reference: dags/financial_pipeline.py:203-209) maps 1:1 onto
``F.window(ts, '7 days')`` here.

Scale notes: windowed aggregation shuffles on (window, key) — at 100 TB
the watermark bounds state size (expired windows are evicted), and the
aggregation is partial/map-side combined exactly like its batch twin.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def with_watermark(df: DataFrame, ts: str = "ts", delay: str = "1 hour") -> DataFrame:
    """Late-data bound; no-op for batch frames (batch has no state to bound)."""
    return df.withWatermark(ts, delay) if df.isStreaming else df


def windowed_event_kpis(
    events: DataFrame,
    *,
    ts: str = "ts",
    window: str = "1 day",
    slide: str | None = None,
    watermark: str | None = None,
) -> DataFrame:
    """Tumbling (or sliding) per-event-type KPIs over event time.

    Output: (window_start, window_end, event_type, n_events, avg_value,
    total_value) — flattened so the schema is plain-SQL comparable.
    """
    src = with_watermark(events, ts, watermark) if watermark else events
    win = F.window(F.col(ts), window, slide) if slide else F.window(F.col(ts), window)
    return (
        src.groupBy(win.alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.avg("value"), 6).alias("avg_value"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
            "avg_value",
            "total_value",
        )
    )


def windowed_volatility(
    changes: DataFrame,
    *,
    key: str = "ticker",
    ts: str = "ts",
    value: str = "variacao_diaria",
    window: str = "7 days",
    watermark: str | None = None,
) -> DataFrame:
    """Streaming-shaped weekly volatility: stddev_samp of the pct-change
    stream per key per event-time window.

    The batch pipeline's DATE_TRUNC('week') bucketing anchors weeks to
    Monday; ``F.window`` anchors to the epoch — both are 7-day tumbling
    buckets, and this variant exists precisely to serve the incremental
    path (pair it with pct_change_stateful upstream).
    """
    src = with_watermark(changes, ts, watermark) if watermark else changes
    return (
        src.filter(F.col(value).isNotNull())
        .groupBy(F.window(F.col(ts), window).alias("w"), key)
        .agg(F.stddev_samp(value).alias("vol"))
        .select(
            F.col("w.start").alias("week_start"),
            F.col(key).alias(key),
            "vol",
        )
    )


def session_stats(
    events: DataFrame,
    *,
    key: str = "user_id",
    ts: str = "ts",
    gap: str = "1 hour",
    watermark: str | None = None,
) -> DataFrame:
    """Sessionization via ``session_window`` (gap-merged event-time windows).

    A session spans from its first event to its last event + gap; output
    is one row per (key, session). Works identically in batch — the
    DuckDB oracle is the classic gaps-and-islands lag/cumsum rewrite.
    """
    src = with_watermark(events, ts, watermark) if watermark else events
    return (
        src.groupBy(F.session_window(F.col(ts), gap).alias("s"), key)
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select(
            F.col(key).alias(key),
            F.col("s.start").alias("session_start"),
            F.col("s.end").alias("session_end"),
            "n_events",
            "total_value",
        )
    )


def dedup_events(
    events: DataFrame,
    *,
    keys: tuple[str, ...] = ("event_id",),
    ts: str = "ts",
    watermark: str = "1 hour",
) -> DataFrame:
    """Exactly-once-per-key event delivery: at-least-once sources (Kafka
    replays, file redeliveries) are deduplicated on ``keys``.

    Streaming frames use ``dropDuplicatesWithinWatermark`` — per-key state
    is EVICTED once the watermark passes a key's event time, so state size
    is bounded by the watermark horizon times the key arrival rate (a plain
    ``dropDuplicates`` on a stream would keep every key ever seen and OOM
    at 100 TB). Duplicates arriving later than the watermark delay are
    passed through: choose the delay to cover the source's redelivery
    window. Batch frames take the ordinary ``dropDuplicates`` — the
    differential-test twin.
    """
    if events.isStreaming:
        return events.withWatermark(ts, watermark).dropDuplicatesWithinWatermark(
            list(keys)
        )
    return events.dropDuplicates(list(keys))


def click_attribution_join(
    views: DataFrame,
    clicks: DataFrame,
    *,
    key: str = "user_id",
    ts: str = "ts",
    horizon_minutes: int = 30,
    watermark: str = "1 hour",
    how: str = "inner",
) -> DataFrame:
    """Stream-stream interval join: each click pairs with every view by
    the same user in the preceding ``horizon_minutes`` — the attribution
    primitive ("which impression led to this click") and the canonical
    Structured Streaming two-stream pattern.

    Output: (user_id, view_ts, click_ts, lag_seconds).

    Streaming semantics: BOTH sides carry a watermark and the join
    condition bounds click_ts to [view_ts, view_ts + horizon] — exactly
    what Spark requires to know when a buffered view can never match a
    future click and evict it. State per side is therefore bounded by
    (arrival rate × (watermark + horizon)), the same envelope as a
    windowed aggregate; an unconstrained stream-stream join would buffer
    forever. Batch frames run the identical join condition as a plain
    range join — the differential-test twin (at warehouse scale the batch
    twin should go through operators/ranges.range_join's binned rewrite;
    here the condition stays verbatim so stream ≡ batch is provable).

    ``how="inner"`` (default): views with no click in the horizon simply
    age out. ``how="leftOuter"``: a view the watermark expires unmatched
    is EMITTED with NULL click columns (the "impressions that never
    converted" side of the same audit) — same state bound, the NULL row
    just waits for state expiry, so end-to-end latency for non-converters
    is the watermark delay plus the horizon.
    """
    v = views.select(
        F.col(key).alias("v_key"), F.col(ts).alias("view_ts")
    )
    c = clicks.select(
        F.col(key).alias("c_key"), F.col(ts).alias("click_ts")
    )
    if views.isStreaming:
        v = v.withWatermark("view_ts", watermark)
    if clicks.isStreaming:
        c = c.withWatermark("click_ts", watermark)
    cond = (
        (F.col("v_key") == F.col("c_key"))
        & (F.col("click_ts") >= F.col("view_ts"))
        & (
            F.col("click_ts")
            <= F.col("view_ts") + F.expr(f"INTERVAL {horizon_minutes} MINUTES")
        )
    )
    return v.join(c, cond, how).select(
        F.col("v_key").alias(key),
        "view_ts",
        "click_ts",
        # exact integer micros, then integer-div to whole seconds: wall-
        # clock arithmetic (TZ/DST-safe for NTZ timestamps) and free of
        # engine-specific sub-second truncation conventions
        F.expr("timestampdiff(MICROSECOND, view_ts, click_ts) div 1000000")
        .cast("long")
        .alias("lag_seconds"),
    )


def enrich_with_dim(
    events: DataFrame,
    dim: DataFrame,
    *,
    key: str = "user_id",
    dim_key: str = "c_custkey",
    dim_cols: tuple[str, ...] = ("c_mktsegment",),
    how: str = "left",
) -> DataFrame:
    """Stream-static enrichment join: attach slowly-changing dimension
    attributes to an event stream (user → segment, instrument → sector).

    The STATIC side needs no watermark and holds no state — Spark re-plans
    it per micro-batch, so a dim table updated between batches is picked
    up automatically (the poor-man's SCD1 lookup; for point-in-time
    correctness against history use operators/asof on the batch side).
    With a small dim the per-batch join is broadcast — the stream never
    shuffles; a big dim falls back to a shuffled join per batch, which is
    the signal to pre-bucket the dim on the key. Works identically on a
    batch frame (the differential-test twin).
    """
    d = dim.select(F.col(dim_key).alias(key), *[F.col(c) for c in dim_cols])
    return events.join(F.broadcast(d), key, how)
