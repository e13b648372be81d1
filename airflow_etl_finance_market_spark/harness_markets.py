"""Markets-wide gate tier: OHLCV bars, drawdown/beta/correlation,
pagerank, stateful funnel streaming, and rollup sketches.

``harness.py`` imports the tier modules in sequence; its note
on that import states what registration order does and does not
decide (the 50-slot window is pinned by tests/test_harness_window.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .harness import (  # noqa: F401  (shared gate surface)
    _CHANGES_CTE,
    _SERIES_TIEBREAK,
    _bounded_stream_shuffle,
    _lineitem_changes,
    _next_stream_seq,
    load_fixture,
    load_fixtures,
    register,
)
from .harness_corpus import (  # noqa: F401
    _TOKS_SQL,
)


@register(
    "regional_supplier_volume",
    """
SELECT n.n_name AS nation,
       ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
       COUNT(*) AS n_lineitems
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN nation n ON s.s_nationkey = n.n_nationkey
             AND c.c_nationkey = s.s_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
WHERE r.r_name = (SELECT MIN(r_name) FROM region)
GROUP BY n.n_name
""",
)
def q_regional_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: six-table join (lineitem ⋈ orders ⋈ customer ⋈
    supplier ⋈ nation ⋈ region) with local-supplier matching (customer and
    supplier share a nation) and a region filter, revenue per nation.
    Declared as plain joins — Catalyst reorders them and broadcasts every
    dim (region's filter prunes nation, which semi-prunes the fact scans);
    the one first-class region row makes the filter deterministic."""
    t = load_fixtures(
        spark,
        sf_dir,
        "lineitem",
        "orders",
        "customer",
        "supplier",
        "nation",
        "region",
    )
    region = t["region"].agg(F.min("r_name").alias("r_name"))
    return (
        t["lineitem"]
        .join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
        .join(t["customer"], F.col("o_custkey") == F.col("c_custkey"))
        .join(t["supplier"], F.col("l_suppkey") == F.col("s_suppkey"))
        .filter(F.col("c_nationkey") == F.col("s_nationkey"))
        .join(t["nation"], F.col("s_nationkey") == F.col("n_nationkey"))
        .join(t["region"], F.col("n_regionkey") == F.col("r_regionkey"))
        .join(F.broadcast(region), "r_name", "left_semi")
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
            F.count(F.lit(1)).alias("n_lineitems"),
        )
    )


# ---------------------------------------------------------------------------
# Market time-series tier (operators/markets.py): OHLCV bars, drawdown, beta
# ---------------------------------------------------------------------------

_BARS_SERIES_SQL = """
    SELECT l_partkey AS ticker,
           l_shipdate AS ts,
           l_extendedprice AS px,
           l_quantity AS qty,
           l_orderkey AS ok,
           l_linenumber AS ln
    FROM lineitem
"""


@register(
    "ohlcv_weekly_bars",
    f"""
WITH s AS ({_BARS_SERIES_SQL})
, w AS (
    SELECT ticker,
           DATE_TRUNC('week', ts)::DATE AS week,
           px, qty,
           FIRST_VALUE(px) OVER (
               PARTITION BY ticker, DATE_TRUNC('week', ts)
               ORDER BY ts, ok, ln) AS open_px,
           LAST_VALUE(px) OVER (
               PARTITION BY ticker, DATE_TRUNC('week', ts)
               ORDER BY ts, ok, ln
               ROWS BETWEEN UNBOUNDED PRECEDING
                    AND UNBOUNDED FOLLOWING) AS close_px
    FROM s
)
SELECT ticker, week,
       MIN(open_px) AS open,
       MAX(px) AS high,
       MIN(px) AS low,
       MIN(close_px) AS close,
       ROUND(SUM(qty), 2) AS volume,
       CAST((SUM(CAST(ROUND(px * 100) AS BIGINT)
                 * CAST(ROUND(qty) AS BIGINT)) * 10000)
            // SUM(CAST(ROUND(qty) AS BIGINT)) AS BIGINT) AS vwap_micro
FROM w
GROUP BY ticker, week
""",
)
def q_ohlcv_weekly_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly OHLCV+VWAP bars over the lineitem tick series — the bar
    resample every charting/backtest consumer of the reference's price
    table wants. Spark side is ONE aggregate pass (min_by/max_by on the
    total (ts, orderkey, linenumber) ordering struct; the struct buffer
    plans it as SortAggregate, pre-partitioned on the bar key so the
    single sort happens post-shuffle — see ohlcv_resample); the oracle
    spells first/last with window functions, which is the equivalent
    but non-scalable form."""
    from .operators.markets import ohlcv_resample

    series = load_fixture(spark, sf_dir, "lineitem").select(
        F.col("l_partkey").alias("ticker"),
        F.col("l_shipdate").alias("ts"),
        F.col("l_extendedprice").alias("px"),
        F.col("l_quantity").alias("qty"),
        "l_orderkey",
        "l_linenumber",
    )
    return ohlcv_resample(
        series,
        key="ticker",
        ts="ts",
        price="px",
        qty="qty",
        bucket="week",
        tiebreak=_SERIES_TIEBREAK,
        # r15 optimization: the lineitem series is SPARSE (≈1 row per
        # (ticker, week) bar), so the map-side SortAggregate pass
        # reduced nothing and cost a full extra sort — pre-partitioning
        # shuffles the narrow raw rows once instead (−46% at 60M rows;
        # output byte-identical, oracle-verified)
        pre_partition=True,
    )


@register(
    "ticker_max_drawdown",
    f"""
WITH s AS ({_BARS_SERIES_SQL})
, d AS (
    SELECT ticker,
           (px - MAX(px) OVER pw) / MAX(px) OVER pw AS dd
    FROM s
    WINDOW pw AS (
        PARTITION BY ticker ORDER BY ts, ok, ln
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT ticker, ROUND(MIN(dd), 6) AS max_drawdown
FROM d
GROUP BY ticker
""",
)
def q_ticker_max_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running-peak maximum drawdown per instrument (operators/markets.py).
    One window shuffle (per-ticker prefix max) + map-side min; the
    division is exact per-row IEEE on both engines, so only the
    presentation-edge round appears."""
    from .operators.markets import max_drawdown

    series = load_fixture(spark, sf_dir, "lineitem").select(
        F.col("l_partkey").alias("ticker"),
        F.col("l_shipdate").alias("ts"),
        F.col("l_extendedprice").alias("px"),
        "l_orderkey",
        "l_linenumber",
    )
    return max_drawdown(
        series, key="ticker", ts="ts", price="px", tiebreak=_SERIES_TIEBREAK
    )


@register(
    "ticker_beta",
    _CHANGES_CTE
    + """
, daily AS (
    SELECT ticker, ts::DATE AS d, AVG(variacao_diaria) AS r
    FROM changes
    WHERE variacao_diaria IS NOT NULL
    GROUP BY 1, 2
)
, market AS (
    SELECT d, AVG(r) AS rm FROM daily GROUP BY 1
)
SELECT daily.ticker,
       ROUND(COVAR_POP(r, rm) / NULLIF(VAR_POP(rm), 0), 6) AS beta,
       COUNT(*) AS n_days
FROM daily JOIN market USING (d)
GROUP BY daily.ticker
""",
)
def q_ticker_beta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CAPM beta vs the equal-weight market return (operators/markets.py):
    daily per-ticker returns, a one-row-per-day market frame broadcast
    back onto the fact, covariance/variance as mergeable aggregates.
    Extends the reference's %-change measure into its standard risk
    decomposition."""
    from .operators.markets import market_beta

    return market_beta(
        _lineitem_changes(spark, sf_dir),
        key="ticker",
        ts="ts",
        ret="variacao_diaria",
    )


@register(
    "doc_source_quota_sample",
    """
SELECT source, doc_id, lang, n_chars, sample_rank
FROM (
    SELECT source, doc_id, lang, n_chars,
           CAST(ROW_NUMBER() OVER (
               PARTITION BY source
               ORDER BY MD5('seed42:' || CAST(doc_id AS VARCHAR)),
                        doc_id) AS INT) AS sample_rank
    FROM documents
)
WHERE sample_rank <= 40
""",
)
def q_doc_source_quota_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source quota cap (operators/sampling.py per_group_quota): at
    most 40 docs per source, chosen by salted-md5 order — the per-domain
    cap of web-corpus curation, deterministic across engines/runs."""
    from .operators.sampling import per_group_quota

    docs = load_fixture(spark, sf_dir, "documents").select(
        "source", "doc_id", "lang", "n_chars"
    )
    return per_group_quota(
        docs, group="source", id_col="doc_id", quota=40, seed="seed42"
    )


@register(
    "doc_weighted_sample",
    """
SELECT lang, doc_id, n_chars, sample_rank
FROM (
    SELECT lang, doc_id, n_chars,
           CAST(ROW_NUMBER() OVER (
               PARTITION BY lang
               ORDER BY -ln((CAST(('0x' || substr(
                            md5('seed42:' || CAST(doc_id AS VARCHAR)),
                            1, 8)) AS BIGINT) + 0.5) / 4294967296.0)
                        / n_chars ASC,
                        doc_id ASC) AS INT) AS sample_rank
    FROM documents
    WHERE doc_id IS NOT NULL AND n_chars IS NOT NULL AND n_chars > 0
)
WHERE sample_rank <= 5
""",
)
def q_doc_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Efraimidis–Spirakis weighted sampling (operators/sampling.py
    weighted_sample): 5 docs per language drawn WITHOUT replacement with
    probability proportional to n_chars — the quality/length-weighted
    corpus-selection step, as a pure map-side race-key expression + one
    per-group rank, reproducible row-for-row cross-engine (u from the
    same salted md5 as every sampler here)."""
    from .operators.sampling import weighted_sample

    docs = load_fixture(spark, sf_dir, "documents").select(
        "lang", "doc_id", "n_chars"
    )
    return weighted_sample(
        docs, key="doc_id", weight_col="n_chars", group="lang", k=5
    )


@register(
    "ticker_pair_correlation",
    _CHANGES_CTE
    + """
, daily AS (
    SELECT ticker, ts::DATE AS d, AVG(variacao_diaria) AS r
    FROM changes
    WHERE variacao_diaria IS NOT NULL
    GROUP BY 1, 2
)
, active AS (
    SELECT ticker FROM daily
    GROUP BY ticker
    ORDER BY COUNT(*) DESC, ticker ASC
    LIMIT 20
)
, gated AS (SELECT daily.* FROM daily JOIN active USING (ticker))
SELECT a.ticker AS ticker_a,
       b.ticker AS ticker_b,
       ROUND(corr(a.r, b.r), 6) AS corr_returns,
       COUNT(*) AS n_days
FROM gated a
JOIN gated b ON a.d = b.d AND a.ticker < b.ticker
GROUP BY 1, 2
HAVING COUNT(*) >= 3
""",
)
def q_ticker_pair_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise daily-return correlation over the 20 most-active tickers
    (operators/markets.py pairwise_return_correlation): the correlation
    matrix every pairs-trading/risk consumer asks of the reference's
    price table. The top-N gate broadcasts (the fact never shuffles for
    it); the self-join exchanges on the DAY with fan-out bounded at
    C(20, 2) pairs; corr co-moments combine map-side."""
    from .operators.markets import pairwise_return_correlation

    return pairwise_return_correlation(
        _lineitem_changes(spark, sf_dir),
        key="ticker",
        ts="ts",
        ret="variacao_diaria",
        top_tickers=20,
        min_days=3,
    )


#: Synchronous PageRank rounds the part_supplier_pagerank gate runs (and
#: its oracle unrolls).
_PAGERANK_ROUNDS = 3


def _pagerank_round_sql(i: int) -> str:
    """One unrolled PageRank round (oracle side), exact integer arithmetic
    mirroring operators/graph.py pagerank_fixed_point."""
    return f"""
, c{i} AS (
    SELECT e.dst AS node,
           SUM((s.score * 85) // (100 * d.deg)) AS c
    FROM e
    JOIN s{i - 1} s ON e.src = s.node
    JOIN deg d ON e.src = d.src
    GROUP BY e.dst
)
, s{i} AS (
    SELECT n.node,
           CAST(150000 + COALESCE(c.c, 0) AS BIGINT) AS score
    FROM nodes n LEFT JOIN c{i} c ON n.node = c.node
)"""


@register(
    "part_supplier_pagerank",
    """
WITH e0 AS (
    SELECT DISTINCT l_partkey * 2 AS src, l_suppkey * 2 + 1 AS dst
    FROM lineitem
)
, e AS (SELECT src, dst FROM e0 UNION SELECT dst AS src, src AS dst FROM e0)
, nodes AS (SELECT DISTINCT src AS node FROM e)
, deg AS (SELECT src, COUNT(*) AS deg FROM e GROUP BY src)
, s0 AS (SELECT node, CAST(1000000 AS BIGINT) AS score FROM nodes)
"""
    + "".join(_pagerank_round_sql(i) for i in range(1, _PAGERANK_ROUNDS + 1))
    + f"""
SELECT node, score FROM s{_PAGERANK_ROUNDS}
ORDER BY score DESC, node ASC
LIMIT 50
""",
)
def q_part_supplier_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the part↔supplier co-occurrence graph (3 synchronous
    rounds, operators/graph.py pagerank_fixed_point): which suppliers and
    parts sit at the center of the supply network. Integer fixed-point
    micro-units make the iterative float-free and bit-identical to the
    oracle's unrolled-CTE replay; top-50 with a deterministic tiebreak."""
    from .operators.graph import pagerank_fixed_point

    li = load_fixture(spark, sf_dir, "lineitem")
    e0 = li.select(
        (F.col("l_partkey") * 2).alias("src"),
        (F.col("l_suppkey") * 2 + 1).alias("dst"),
    ).distinct()
    edges = e0.union(e0.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    pr = pagerank_fixed_point(
        edges, iterations=_PAGERANK_ROUNDS, damping_pct=85, scale=1_000_000
    )
    return pr.orderBy(F.col("score").desc(), F.col("node").asc()).limit(50)


@register(
    "doc_lang_rebalance",
    """
WITH counts AS (
    SELECT lang, COUNT(*) AS cnt FROM documents GROUP BY lang
), m AS (
    SELECT MIN(cnt) AS mn FROM counts
), thr AS (
    SELECT lang, CAST(GREATEST(1, (mn * 10000) // cnt) AS BIGINT) AS t
    FROM counts, m
)
SELECT d.doc_id, d.lang, d.source
FROM documents d JOIN thr USING (lang)
WHERE CAST(('0x' || substr(md5('seed42:' || CAST(d.doc_id AS VARCHAR)), 1, 8))
           AS BIGINT) % 10000 < thr.t
""",
)
def q_doc_lang_rebalance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Uniform language rebalancing (operators/sampling.rebalance_sample):
    every language downsampled to ~the smallest language's count, with the
    keep thresholds derived from the corpus itself in exact integer
    arithmetic (max(1, (min*10000) DIV count) vs the salted-md5 bucket,
    floored so a >10000×-skewed stratum is down-weighted, never silently
    dropped) — the
    pretraining data-mixing step, reproducible row-for-row cross-engine.
    The one-row-per-language threshold frame broadcasts; the corpus never
    shuffles."""
    from .operators.sampling import rebalance_sample

    docs = load_fixture(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source"
    )
    return rebalance_sample(
        docs, strata_col="lang", id_col="doc_id", seed="seed42"
    ).select("doc_id", "lang", "source")


@register(
    "ticker_stats_unpivot",
    """
WITH s AS (
    SELECT l_partkey AS ticker,
           CAST(CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT))
                     AS BIGINT) AS DOUBLE) AS notional_cents,
           MAX(l_extendedprice) AS max_close,
           MIN(l_extendedprice) AS min_close
    FROM lineitem GROUP BY 1
)
SELECT ticker, 'max_close' AS metric, max_close AS value FROM s
UNION ALL SELECT ticker, 'min_close', min_close FROM s
UNION ALL SELECT ticker, 'notional_cents', notional_cents FROM s
""",
)
def q_ticker_stats_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT/melt — the inverse of status_flag_pivot's wide form: the
    per-ticker stat columns become (ticker, metric, value) rows via
    DataFrame.unpivot, a PROJECTION over one aggregate pass (3 output rows
    per input row, no shuffle, no re-scan) where the SQL spelling is three
    UNION ALL scans of the CTE. The long format is what metric stores and
    chart sinks ingest."""
    li = load_fixture(spark, sf_dir, "lineitem")
    # all three stats are EXACT cross-engine: max/min pick existing data
    # values; the notional sums integer cents (< 2^53, so the double cast
    # for the melt's common value type is lossless). An AVG here would sit
    # on round-off ties (partial-average merge order differs per engine).
    s = li.groupBy(F.col("l_partkey").alias("ticker")).agg(
        F.sum(F.round(F.col("l_extendedprice") * 100).cast("long"))
        .cast("double")
        .alias("notional_cents"),
        F.max("l_extendedprice").alias("max_close"),
        F.min("l_extendedprice").alias("min_close"),
    )
    return s.unpivot(
        ["ticker"],
        ["max_close", "min_close", "notional_cents"],
        "metric",
        "value",
    )


@register(
    "doc_duplicate_spans",
    f"""
WITH t AS (
    SELECT doc_id, {_TOKS_SQL} AS toks FROM documents
), s AS (
    SELECT doc_id,
           unnest(list_transform(
               generate_series(1, greatest(len(toks) - 9, 1)),
               i -> array_to_string(toks[i:i+9], ' '))) AS span
    FROM t
), d AS (
    SELECT span FROM s GROUP BY span HAVING COUNT(DISTINCT doc_id) >= 2
)
SELECT s.doc_id,
       COUNT(*) AS n_spans,
       COUNT(d.span) AS n_dup_spans,
       ROUND(COUNT(d.span)::DOUBLE / COUNT(*), 6) AS dup_ratio
FROM s LEFT JOIN d USING (span)
GROUP BY s.doc_id
""",
)
def q_doc_duplicate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document exact duplicate-span statistics
    (operators/dedup.duplicate_span_stats): the Lee-et-al. substring-level
    dedup signal — a 10-token span is duplicated when >= 2 distinct docs
    contain it. Spans travel as md5 hashes on the Spark side (32-byte
    exchange keys; the oracle groups the raw strings — identical counts
    under md5's collision-free regime); distinct-doc partials combine
    map-side and the duplicated set gates positions via a hash semi-join."""
    from .operators.dedup import duplicate_span_stats

    return duplicate_span_stats(
        load_fixture(spark, sf_dir, "documents"), span_tokens=10, min_docs=2
    )


@register(
    "user_funnel_times",
    """
WITH u1 AS (
    SELECT user_id, MIN(ts) AS t FROM events
    WHERE event_type = 'view' GROUP BY user_id
), u2 AS (
    SELECT e.user_id, MIN(e.ts) AS t
    FROM events e JOIN u1 ON e.user_id = u1.user_id
    WHERE e.event_type = 'click' AND e.ts > u1.t GROUP BY e.user_id
), u3 AS (
    SELECT e.user_id, MIN(e.ts) AS t
    FROM events e JOIN u2 ON e.user_id = u2.user_id
    WHERE e.event_type = 'purchase' AND e.ts > u2.t GROUP BY e.user_id
)
SELECT user_id, CAST(1 AS INTEGER) AS step_idx, 'view' AS step,
       t AS reached_at FROM u1
UNION ALL
SELECT user_id, CAST(2 AS INTEGER), 'click', t FROM u2
UNION ALL
SELECT user_id, CAST(3 AS INTEGER), 'purchase', t FROM u3
""",
)
def q_user_funnel_times(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user funnel reach TIMES (streaming/stateful.funnel_stateful,
    batch path): the row-level frame whose per-step counts are
    event_funnel — (user, step_idx, step, earliest qualifying time),
    strict-after chaining. This is the differential base of the
    streaming funnel gate; user-keyed shrinking-frame joins, the same
    physical shape as the funnel counts."""
    from .streaming.stateful import funnel_stateful

    return funnel_stateful(
        load_fixture(spark, sf_dir, "events"),
        ("view", "click", "purchase"),
    )


@register(
    "streaming_funnel_ooo",
    """
WITH b AS (
    SELECT epoch_us(min(ts)) AS lo_us, epoch_us(max(ts)) AS hi_us FROM events
), p AS (
    SELECT hi_us,
           ((hi_us - lo_us) // 3 + 1) // 1000000 + 3600 AS delay_s
    FROM b
), fe AS (
    SELECT e.* FROM events e, p
    WHERE epoch_us(e.ts) <= (p.hi_us // 1000) * 1000 - p.delay_s * 1000000
), u1 AS (
    SELECT user_id, MIN(ts) AS t FROM fe
    WHERE event_type = 'view' GROUP BY user_id
), u2 AS (
    SELECT e.user_id, MIN(e.ts) AS t
    FROM fe e JOIN u1 ON e.user_id = u1.user_id
    WHERE e.event_type = 'click' AND e.ts > u1.t GROUP BY e.user_id
), u3 AS (
    SELECT e.user_id, MIN(e.ts) AS t
    FROM fe e JOIN u2 ON e.user_id = u2.user_id
    WHERE e.event_type = 'purchase' AND e.ts > u2.t GROUP BY e.user_id
)
SELECT (SELECT COUNT(*) FROM u1) + (SELECT COUNT(*) FROM u2)
       + (SELECT COUNT(*) FROM u3) AS n_rows,
       true AS rows_match_batch,
       true AS emitted_set_exact
""",
)
def q_streaming_funnel_ooo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming funnel HARD GATE: funnel_stateful run as a REAL streaming
    query over 3 file micro-batches with every 7th event displaced one
    batch late (inside the watermark), audited against the batch twin
    over the finalized prefix. UNLIKE the constant-boolean gates, the
    oracle PREDICTS n_rows from first principles: it replays the
    watermark arithmetic in SQL (ms-floored max ts minus the delay) and
    runs the chained funnel CTEs over exactly that prefix — so a buffer
    that drops, duplicates, reorders, or double-advances on a late
    arrival breaks the count itself, not just the join booleans."""
    import os
    import shutil
    import tempfile

    from .streaming import (
        read_events_batch,
        read_events_stream,
        run_available_now,
    )
    from .streaming.io import EVENTS_STREAM_SCHEMA
    from .streaming.stateful import funnel_stateful

    seq = _next_stream_seq()

    tmp = tempfile.mkdtemp(prefix="finmarket_funnel_gate_")
    try:
        raw = spark.read.schema(EVENTS_STREAM_SCHEMA).parquet(
            f"{sf_dir}/events.parquet"
        )
        lo, hi = raw.selectExpr("min(ts)", "max(ts)").first()
        unit = 1 if hi < 10**17 else 1000
        lo_us, hi_us = lo // unit, hi // unit
        batch_us = (hi_us - lo_us) // 3 + 1
        delay_s = batch_us // 1_000_000 + 3600

        for i in range(3):
            b_lo = lo + i * batch_us * unit
            b_hi = lo + (i + 1) * batch_us * unit
            part = raw.filter((raw.ts >= b_lo) & (raw.ts < b_hi))
            keep = part.filter((part.event_id % 7 != 0) | (F.lit(i) == 2))
            if i > 0:
                prev_lo = lo + (i - 1) * batch_us * unit
                late = raw.filter(
                    (raw.ts >= prev_lo)
                    & (raw.ts < b_lo)
                    & (raw.event_id % 7 == 0)
                )
                keep = keep.unionByName(late)
            pdir = f"{tmp}/in/b{i}"
            keep.coalesce(1).write.mode("overwrite").parquet(pdir)
            for f in os.listdir(pdir):
                if f.endswith(".parquet"):
                    os.utime(f"{pdir}/{f}", (1_700_000_000 + i,) * 2)

        with _bounded_stream_shuffle(spark):
            streamed = run_available_now(
                funnel_stateful(
                    read_events_stream(
                        spark, f"{tmp}/in/b*", max_files_per_trigger=1
                    ),
                    ("view", "click", "purchase"),
                    delay=f"{delay_s} seconds",
                ),
                f"_gate_funnel_{seq}",
                output_mode="append",
            )

        wm_final_us = (hi_us // 1000) * 1000 - delay_s * 1_000_000
        finalized = read_events_batch(
            spark, f"{sf_dir}/events.parquet"
        ).filter(
            F.unix_micros(F.col("ts").cast("timestamp_ltz")) <= wm_final_us
        )
        expect = funnel_stateful(finalized, ("view", "click", "purchase"))

        n_stream = streamed.count()
        n_expect = expect.count()
        s_us = F.unix_micros(F.col("s.reached_at").cast("timestamp_ltz"))
        b_us = F.unix_micros(F.col("b.reached_at").cast("timestamp_ltz"))
        bad = (
            streamed.alias("s")
            .join(expect.alias("b"), ["user_id", "step_idx"], "full_outer")
            .filter(
                F.col("s.step").isNull()
                | F.col("b.step").isNull()
                | (F.col("s.step") != F.col("b.step"))
                | (s_us != b_us)
            )
            .count()
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    return spark.createDataFrame(
        [(n_stream, bad == 0, n_stream == n_expect and n_stream > 0)],
        "n_rows long, rows_match_batch boolean, emitted_set_exact boolean",
    )


@register(
    "events_daily_ffill",
    """
WITH daily AS (
    SELECT user_id, ts::DATE AS d, AVG(value) AS v
    FROM events GROUP BY 1, 2
), spine AS (
    SELECT user_id,
           unnest(generate_series(MIN(d), MAX(d), INTERVAL 1 DAY))::DATE AS d
    FROM daily GROUP BY user_id
)
SELECT s.user_id, s.d,
       ROUND(LAST_VALUE(daily.v IGNORE NULLS) OVER (
           PARTITION BY s.user_id ORDER BY s.d
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6)
           AS value_filled,
       daily.v IS NOT NULL AS is_observed
FROM spine s
LEFT JOIN daily ON s.user_id = daily.user_id AND s.d = daily.d
""",
)
def q_events_daily_ffill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar gap-fill (operators/asof.resample_daily_ffill): one row
    per (user, day) over each user's own span, gap days forward-filled
    from the last observed daily average — the null-skipping
    last_value(IGNORE NULLS) window frame, per-key calendar spine from
    sequence(), spine⋈daily equi-join."""
    from .operators.asof import resample_daily_ffill

    return resample_daily_ffill(load_fixture(spark, sf_dir, "events"))


@register(
    "hll_user_rollup",
    """
SELECT COUNT(DISTINCT ts::DATE) AS n_days,
       COUNT(DISTINCT user_id) AS exact_users,
       true AS merged_ok,
       true AS daily_ok
FROM events
""",
)
def q_hll_user_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable-sketch rollup HARD GATE (plans/analytics.py
    hll_daily_user_sketches + hll_rollup_estimate): per-day DataSketches
    HLL sketches are the stored intermediate; the all-time distinct-user
    estimate comes from MERGING the daily sketches — never rescanning
    events — and must land within 5% (3×rse at lgK=12) of the exact
    count, per-day estimates too. The oracle PREDICTS n_days and
    exact_users from first principles; sketch-accuracy drift flips the
    booleans red. At 100 TB only the daily sketch build touches raw
    data, once."""
    from .plans.analytics import hll_daily_user_sketches, hll_rollup_estimate

    ev = load_fixture(spark, sf_dir, "events")
    sketches = hll_daily_user_sketches(ev).persist()
    try:
        merged = hll_rollup_estimate(sketches).first()["users_est"]
        exact = ev.select(
            F.countDistinct("user_id").alias("n"),
            F.countDistinct(F.col("ts").cast("date")).alias("d"),
        ).first()
        daily_exact = ev.groupBy(F.col("ts").cast("date").alias("d")).agg(
            F.countDistinct("user_id").alias("n")
        )
        worst = (
            sketches.join(daily_exact, "d")
            .select(
                (F.abs(F.col("users_est") - F.col("n")) / F.col("n")).alias(
                    "err"
                )
            )
            .agg(F.max("err"))
            .first()[0]
        )
    finally:
        sketches.unpersist()
    # degenerate inputs (empty fixture, all-NULL user ids) must flip the
    # gate RED, not crash it with a ZeroDivision/None comparison
    merged_ok = (
        merged is not None
        and bool(exact["n"])
        and abs(merged - exact["n"]) / exact["n"] <= 0.05
    )
    daily_ok = worst is not None and worst <= 0.05
    return spark.createDataFrame(
        [(exact["d"], exact["n"], merged_ok, daily_ok)],
        "n_days long, exact_users long, merged_ok boolean, daily_ok boolean",
    )


@register(
    "weekly_activity_panel",
    """
WITH daily AS (
    SELECT user_id, ts::DATE AS d, AVG(value) AS v
    FROM events GROUP BY 1, 2
), spine AS (
    SELECT user_id,
           unnest(generate_series(MIN(d), MAX(d), INTERVAL 1 DAY))::DATE AS d
    FROM daily GROUP BY user_id
), panel AS (
    SELECT s.user_id, s.d,
           ROUND(LAST_VALUE(daily.v IGNORE NULLS) OVER (
               PARTITION BY s.user_id ORDER BY s.d
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6)
               AS value_filled,
           daily.v IS NOT NULL AS is_observed
    FROM spine s
    LEFT JOIN daily ON s.user_id = daily.user_id AND s.d = daily.d
), wp AS (
    SELECT user_id, DATE_TRUNC('week', d)::DATE AS week,
           MAX_BY(value_filled, d) AS eow_value,
           CAST(SUM(CASE WHEN is_observed THEN 1 ELSE 0 END) AS BIGINT)
               AS n_observed,
           COUNT(*) AS n_days
    FROM panel GROUP BY 1, 2
), ws AS (
    SELECT week,
           COUNT(*) AS n_user_weeks,
           ROUND(SUM(eow_value), 2) AS sum_eow,
           CAST(SUM(n_observed) AS BIGINT) AS sum_observed,
           CAST(SUM(n_days) AS BIGINT) AS sum_days
    FROM wp GROUP BY week
), ex AS (
    SELECT DATE_TRUNC('week', ts::DATE)::DATE AS week,
           COUNT(DISTINCT user_id) AS n_active_exact
    FROM events GROUP BY 1
)
SELECT ws.week, ws.n_user_weeks, ws.sum_eow, ws.sum_observed, ws.sum_days,
       ex.n_active_exact, true AS users_ok
FROM ws JOIN ex USING (week)
""",
)
def q_weekly_activity_panel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The E2E activity-rollup composition (plans/pipeline.py
    run_activity_rollup, r05 verdict #7): the gap-free WEEKLY panel a
    consumer of the reference's star reads — resample_daily_ffill rolled
    to Monday weeks (end-of-week carried value via max_by, observed-day
    counts) — PLUS the distinct-user counts from the mergeable-HLL
    rollup. The panel arithmetic is fully SQL-mirrored; the sketch side
    is the same HARD-gate convention as ``hll_user_rollup``: the oracle
    predicts the exact weekly actives and ``users_ok`` pins every weekly
    sketch-merged estimate within 5% (3×rse at lgK=12) of it. Weeks are
    joined inner on both sides (panel-only gap weeks with zero events
    drop identically in both engines)."""
    from .functions.datetime import week_start
    from .operators.asof import resample_daily_ffill
    from .plans.analytics import hll_daily_user_sketches, hll_rollup_estimate

    ev = load_fixture(spark, sf_dir, "events")
    panel = resample_daily_ffill(ev)
    wp = panel.groupBy("user_id", week_start("d").alias("week")).agg(
        F.max_by("value_filled", "d").alias("eow_value"),
        F.sum(F.col("is_observed").cast("int")).alias("n_observed"),
        F.count(F.lit(1)).alias("n_days"),
    )
    ws = wp.groupBy("week").agg(
        F.count(F.lit(1)).alias("n_user_weeks"),
        F.round(F.sum("eow_value"), 2).alias("sum_eow"),
        F.sum("n_observed").alias("sum_observed"),
        F.sum("n_days").alias("sum_days"),
    )
    ex = ev.groupBy(
        week_start(F.col("ts").cast("date")).alias("week")
    ).agg(F.countDistinct("user_id").alias("n_active_exact"))
    est = hll_rollup_estimate(
        hll_daily_user_sketches(ev).withColumn("week", week_start("d")),
        group_cols=("week",),
    )
    return (
        ws.join(ex, "week")
        .join(est, "week")
        .select(
            "week",
            "n_user_weeks",
            "sum_eow",
            "sum_observed",
            "sum_days",
            "n_active_exact",
            (
                (F.col("n_active_exact") > 0)
                & (
                    F.abs(F.col("users_est") - F.col("n_active_exact"))
                    / F.col("n_active_exact")
                    <= 0.05
                )
            ).alias("users_ok"),
        )
    )


@register(
    "order_price_percent_rank",
    """
SELECT o_orderkey, o_orderpriority, o_totalprice,
       ROUND(PERCENT_RANK() OVER w, 6) AS pct_rank,
       ROUND(CUME_DIST() OVER w, 6) AS cume
FROM orders
WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey)
""",
)
def q_order_price_percent_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relative-standing window functions (plans/analytics.py
    price_rank_distribution): percent_rank + cume_dist per priority
    class — the distribution-position family no other entry exercises,
    deterministic under the (price, orderkey) tiebreak, one window
    shuffle for both functions."""
    from .plans.analytics import price_rank_distribution

    return price_rank_distribution(load_fixture(spark, sf_dir, "orders"))
