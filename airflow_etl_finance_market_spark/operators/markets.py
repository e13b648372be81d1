"""Market time-series operators: OHLCV bar resampling, max drawdown, beta.

The reference's pipeline derives one measure from its price series — the
daily %-change (reference: dags/financial_pipeline.py:192-193) — and leaves
richer market analytics to notebooks. These operators extend that series
into the standard quant toolkit, each as a single declarative plan:

* :func:`ohlcv_resample` — tick/row series → OHLCV bars per (key, bucket):
  open/close via ``min_by``/``max_by`` on a total (ts, tiebreak) ordering
  struct, high/low/volume/vwap as plain aggregates. ONE shuffle on
  (key, bucket). With a struct ordering the plan is a SortAggregate
  (struct buffers are not hash-mutable): for tick-DENSE series the
  default shape combines map-side so the exchange carries partial
  aggregates, never raw ticks; for SPARSE series (rows-per-bar ≈ 1)
  pass ``pre_partition=True`` so the one sort runs post-shuffle
  instead of map-side-then-again (r15 measurement in the docstring).

* :func:`max_drawdown` — running-peak drawdown. The running max needs the
  per-key ordered prefix, so this IS a Window (one shuffle + per-key sort,
  bounded by the longest single series, not the corpus); the trough then
  folds map-side in the follow-up hash-agg.

* :func:`market_beta` — per-instrument CAPM beta against the equal-weight
  market return. Daily returns aggregate per (key, day); the market frame
  collapses to ONE ROW PER DAY and is broadcast back (hint pinned), so the
  join never shuffles the fact side; covariance/variance partials merge
  like any sum. Driver holds nothing.

All arithmetic stays in whole-stage codegen; rounding only at the
presentation edge so both engines agree to the printed digit.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _ord_struct(ts: str, tiebreak: tuple[str, ...]) -> Column:
    """Total ordering key for first/last semantics: (ts, *tiebreak) must be
    unique per key or open/close are nondeterministic."""
    return F.struct(F.col(ts), *[F.col(c) for c in tiebreak])


def ohlcv_resample(
    series: DataFrame,
    *,
    key: str = "ticker",
    ts: str = "ts",
    price: str = "close",
    qty: str = "qty",
    bucket: str = "week",
    tiebreak: tuple[str, ...] = (),
    pre_partition: bool = False,
) -> DataFrame:
    """Resample a row-level price/quantity series into OHLCV+VWAP bars.

    Output: (key, bucket, open, high, low, close, volume, vwap); bucket is
    the ``date_trunc(bucket, ts)`` date (Monday-start weeks, matching the
    reference's weekly rollup convention).

    ``pre_partition`` (optimization r15, guide §1.2/§2.4): with a struct
    ordering, ``min_by``/``max_by`` carry a struct-typed aggregation
    buffer, which HashAggregate cannot hold — the plan falls back to
    SortAggregate: a full map-side sort of the raw series by (key,
    bucket), fat partial buffers through the exchange, and a second
    reduce-side sort. That partial pass only pays when many rows
    collapse per bar. For SPARSE series — rows-per-bar near 1, e.g.
    daily observations into weekly bars, where partial aggregation
    cannot reduce anything — ``pre_partition=True`` repartitions on
    (key, bucket) first, so the exchange carries the raw (narrow) rows
    and the single post-shuffle sort feeds one SortAggregate with no
    map-side sort and no fat buffers on the wire. Measured at 60M rows
    / 57M bars: 20.8 s → 11.2 s (−46%), byte-identical output. Keep the
    default for tick-dense data, where map-side combine wins.
    """
    o = _ord_struct(ts, tiebreak)
    if pre_partition:
        series = series.repartition(
            F.col(key),
            F.date_trunc(bucket, F.col(ts)).cast("date"),
        )
    # VWAP in EXACT integer space: prices carry 2 decimals and quantities
    # are integral, so cents x units sums are bit-identical on any engine
    # and any partial-aggregation order — a double SUM(px*qty)/SUM(qty)
    # lands ON round-off ties whenever the volume is a power of two
    # (x/64 terminates at the 6th decimal), and Spark's valueOf-HALF_UP
    # vs C-library rounding then disagree in the last digit. Integer DIV
    # is tie-free. Units: micro-dollars; overflow bound ~9.2e18
    # micro-dollar-units per bar.
    cents = F.round(F.col(price) * 100).cast("long")
    units = F.round(F.col(qty)).cast("long")
    return (
        series.groupBy(
            F.col(key),
            F.date_trunc(bucket, F.col(ts)).cast("date").alias(bucket),
        )
        .agg(
            F.min_by(price, o).alias("open"),
            F.max(price).alias("high"),
            F.min(price).alias("low"),
            F.max_by(price, o).alias("close"),
            F.round(F.sum(qty), 2).alias("volume"),
            F.sum(cents * units).alias("_pv_cents"),
            F.sum(units).alias("_units"),
        )
        .withColumn(
            "vwap_micro",
            F.expr("CAST((_pv_cents * 10000) DIV _units AS BIGINT)"),
        )
        .drop("_pv_cents", "_units")
    )


def max_drawdown(
    series: DataFrame,
    *,
    key: str = "ticker",
    ts: str = "ts",
    price: str = "close",
    tiebreak: tuple[str, ...] = (),
) -> DataFrame:
    """Per-key maximum drawdown: min over t of (p_t - peak_t) / peak_t.

    Output: (key, max_drawdown) — ≤ 0, rounded at the edge. Assumes
    positive prices (peak > 0), which the lineitem series guarantees.
    """
    w = (
        Window.partitionBy(key)
        .orderBy(ts, *tiebreak)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    peak = F.max(price).over(w)
    dd = (F.col(price) - peak) / peak
    return (
        series.withColumn("_dd", dd)
        .groupBy(key)
        .agg(F.round(F.min("_dd"), 6).alias("max_drawdown"))
    )


def market_beta(
    changes: DataFrame,
    *,
    key: str = "ticker",
    ts: str = "ts",
    ret: str = "variacao_diaria",
    reuse_daily: bool = True,
) -> DataFrame:
    """CAPM beta per instrument vs the equal-weight market daily return.

    r_i(d) = avg %-change of instrument i on day d; r_m(d) = avg of r_i(d)
    across instruments; beta_i = covar_pop(r_i, r_m) / var_pop(r_m) over
    the days i traded. Output: (key, beta, n_days).

    Scale: the market frame is one row per calendar day (~10k rows for
    decades of history) — broadcast, so the per-(key, day) fact never
    reshuffles for the join; the covariance partials then combine map-side
    on the existing (key)-compatible layout.

    ``reuse_daily`` (default on, optimization r15 — guide §5 derived-frame
    reuse, the ``pairwise_return_correlation`` pattern): the daily-return
    frame is referenced TWICE (the market aggregate and the join's fact
    side), and its derivation is usually a full LAG-window pass over the
    tick fact — without the lazy localCheckpoint the physical plan
    evaluates that 60M-row shuffle+sort+window subtree twice (measured:
    the x100 plan carried two complete Exchange→Sort→Window chains;
    ticker_beta 15.9 s → 7.3 s back-to-back at 60M rows with the
    checkpoint, output equal).
    The checkpointed frame is |tickers × days| rows — far smaller than
    the ticks. Pass ``reuse_daily=False`` when ``changes`` is already a
    materialized daily table.
    """
    daily = (
        changes.filter(F.col(ret).isNotNull())
        .groupBy(F.col(key), F.col(ts).cast("date").alias("_d"))
        .agg(F.avg(ret).alias("_r"))
    )
    if reuse_daily:
        daily = daily.localCheckpoint(eager=False)
    market = daily.groupBy("_d").agg(F.avg("_r").alias("_rm"))
    return (
        daily.join(F.broadcast(market), "_d")
        .groupBy(key)
        .agg(
            F.round(
                F.covar_pop("_r", "_rm")
                / F.nullif(F.var_pop("_rm"), F.lit(0.0)),
                6,
            ).alias("beta"),
            F.count(F.lit(1)).alias("n_days"),
        )
    )


def pairwise_return_correlation(
    changes: DataFrame,
    *,
    key: str = "ticker",
    ts: str = "ts",
    ret: str = "variacao_diaria",
    top_tickers: int = 20,
    min_days: int = 3,
    reuse_daily: bool = True,
) -> DataFrame:
    """Pearson correlation of daily returns for every pair of the
    ``top_tickers`` most-active instruments — the correlation-matrix
    corner every risk/pairs-trading consumer asks of a price warehouse,
    extending the reference's %-change measure (W1/W2) the same way
    :func:`market_beta` does.

    Output: (ticker_a, ticker_b, corr_returns, n_days) with
    ticker_a < ticker_b, over days both traded; pairs below ``min_days``
    common observations are dropped (a 2-point correlation is always ±1).

    Scale shape: an all-pairs correlation over the full universe is
    O(|tickers|²) and not a 100 TB plan; the standard formulation gates
    to a top-N active set first, and N is the explicit cost dial
    (C(N, 2) pairs). The N-row gate frame BROADCASTS — the daily-returns
    fact never shuffles for the gate — then the gated frame self-joins
    per DAY (one shuffle keyed on the date, fan-out bounded by C(N, 2)
    per day) and the correlation co-moments combine map-side. Top-N
    selection is deterministic: (active-day count DESC, key ASC).

    ``reuse_daily`` (default on) lazily localCheckpoints the daily-return
    frame: it is referenced THREE times (the active-set gate and both
    self-join sides), and without the checkpoint its derivation — a full
    LAG-window pass over the tick fact — would evaluate three times (the
    same derived-frame-reuse trade as pagerank_fixed_point's
    ``reuse_edges``; the checkpointed frame is |tickers × days| rows, far
    smaller than the ticks). Pass ``reuse_daily=False`` when ``changes``
    is already a materialized daily table.
    """
    daily = (
        changes.filter(F.col(ret).isNotNull())
        .groupBy(F.col(key), F.col(ts).cast("date").alias("_d"))
        .agg(F.avg(ret).alias("_r"))
    )
    if reuse_daily:
        daily = daily.localCheckpoint(eager=False)
    active = (
        daily.groupBy(key)
        .agg(F.count(F.lit(1)).alias("_n"))
        .orderBy(F.col("_n").desc(), F.col(key).asc())
        .limit(top_tickers)
        .select(key)
    )
    gated = daily.join(F.broadcast(active), key)
    a = gated.select(
        F.col(key).alias("ticker_a"), "_d", F.col("_r").alias("_ra")
    )
    b = gated.select(
        F.col(key).alias("ticker_b"), "_d", F.col("_r").alias("_rb")
    )
    return (
        a.join(b, "_d")
        .filter(F.col("ticker_a") < F.col("ticker_b"))
        .groupBy("ticker_a", "ticker_b")
        .agg(
            F.round(F.corr("_ra", "_rb"), 6).alias("corr_returns"),
            F.count(F.lit(1)).alias("n_days"),
        )
        .filter(F.col("n_days") >= min_days)
    )
