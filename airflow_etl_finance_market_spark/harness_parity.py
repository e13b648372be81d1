"""Reference-parity gate tier: the financial-market star-schema
queries, quality gates, dims, and URL provenance gates (SURVEY.md
S/P/J/A/W/O/F rows).

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
    _SERIES_WINDOW_SQL,
    _lineitem_changes,
    daily_pct_change,
    fan_out,
    load_fixture,
    register,
    top_avg_volatility,
    weekly_volatility,
)


@register(
    "weekly_volatility",
    _CHANGES_CTE
    + """
SELECT
    ticker,
    DATE_TRUNC('week', ts)::DATE AS week,
    ROUND(STDDEV_SAMP(variacao_diaria), 6) AS vol
FROM changes
WHERE variacao_diaria IS NOT NULL
GROUP BY 1, 2
""",
)
def q_weekly_volatility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """volatility_weekly MV over the lineitem series (SURVEY §2: A3,F1,P3,W1,W2,F7)."""
    wv = weekly_volatility(
        _lineitem_changes(spark, sf_dir), key="ticker", ts="ts"
    )
    return wv.withColumn("vol", F.round("vol", 6))


@register(
    "top_avg_volatility",
    _CHANGES_CTE
    + """
, weekly AS (
    SELECT
        ticker,
        DATE_TRUNC('week', ts)::DATE AS week,
        STDDEV_SAMP(variacao_diaria) AS vol
    FROM changes
    WHERE variacao_diaria IS NOT NULL
    GROUP BY 1, 2
)
SELECT ticker, ROUND(AVG(vol), 6) AS avg_volatility
FROM weekly
GROUP BY ticker
ORDER BY AVG(vol) DESC, ticker ASC
LIMIT 5
""",
)
def q_top_avg_volatility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Report task: most-volatile instruments, top-5 (SURVEY §2: A5, O1)."""
    wv = weekly_volatility(_lineitem_changes(spark, sf_dir), key="ticker", ts="ts")
    top = top_avg_volatility(wv, k=5)
    return top.withColumn("avg_volatility", F.round("avg_volatility", 6))


#: The changes CTE widened with volume/close kept — the report queries need
#: them; spelled separately so the narrow flagship CTE's plans stay pinned.
_REPORT_CTE = f"""
WITH changes AS (
    SELECT
        l_partkey AS ticker,
        l_shipdate AS ts,
        l_quantity AS volume,
        l_extendedprice AS close,
        (l_extendedprice - LAG(l_extendedprice) OVER w)
            / NULLIF(LAG(l_extendedprice) OVER w, 0) * 100 AS variacao_diaria
    FROM lineitem
    WINDOW w AS ({_SERIES_WINDOW_SQL})
)
"""


def _report_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    series = load_fixture(spark, sf_dir, "lineitem").select(
        F.col("l_partkey").alias("ticker"),
        F.col("l_shipdate").alias("ts"),
        F.col("l_quantity").alias("volume"),
        F.col("l_extendedprice").alias("close"),
        "l_orderkey",
        "l_linenumber",
    )
    return daily_pct_change(
        series, key="ticker", ts="ts", value="close",
        order_tiebreak=_SERIES_TIEBREAK,
    )


@register(
    "market_overview",
    _REPORT_CTE
    + """
SELECT
    COUNT(*) AS total_rows,
    COUNT(DISTINCT ticker) AS n_tickers,
    COUNT(DISTINCT ts) AS n_days,
    MIN(ts) AS first_day,
    MAX(ts) AS last_day,
    ROUND(STDDEV_SAMP(variacao_diaria), 6) AS market_volatility,
    ROUND(AVG(variacao_diaria), 6) AS mean_daily_change,
    ROUND(AVG(volume), 2) AS avg_volume,
    ROUND(AVG(close), 2) AS avg_close
FROM changes
""",
)
def q_market_overview(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Report header: one-row global market summary (S8/S9 feeder, A1-A9).

    The notebook's "RESUMO GERAL" block
    (reference: analysis/análise_exploratória.ipynb → relatorio cell) as a
    single aggregate pass.
    """
    from .plans.report import market_overview

    return market_overview(_report_changes(spark, sf_dir), ts="ts")


@register(
    "ticker_report_stats",
    _REPORT_CTE
    + """
SELECT
    ticker,
    ROUND(STDDEV_SAMP(variacao_diaria), 6) AS volatility,
    ROUND(AVG(variacao_diaria), 6) AS mean_change,
    ROUND(SUM(volume), 2) AS total_volume
FROM changes
GROUP BY ticker
""",
)
def q_ticker_report_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Report rankings' shared input: ONE groupBy(ticker) multi-agg that
    feeds all three top-5 lists (S9; A3, A5, A6 fused) — the pandas
    notebook ran three separate groupbys over the full frame.
    """
    from .plans.report import ticker_stats

    st = ticker_stats(_report_changes(spark, sf_dir))
    return st.select(
        "ticker",
        F.round("volatility", 6).alias("volatility"),
        F.round("mean_change", 6).alias("mean_change"),
        F.round("total_volume", 2).alias("total_volume"),
    )


def flagship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """entry() target: the weekly-volatility table at the given scale."""
    return q_weekly_volatility(spark, sf_dir)


# ---------------------------------------------------------------------------
# Parity tier: aggregations, windows, sorts, joins, dims, quality, scoring
# (SURVEY.md §2.2-§2.8)
# ---------------------------------------------------------------------------


@register(
    "pricing_summary",
    """
SELECT
    l_returnflag,
    l_linestatus,
    ROUND(SUM(l_quantity), 2) AS sum_qty,
    ROUND(SUM(l_extendedprice), 2) AS sum_base_price,
    ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
    ROUND(SUM(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
    ROUND(AVG(l_quantity), 6) AS avg_qty,
    ROUND(AVG(l_extendedprice), 6) AS avg_price,
    ROUND(AVG(l_discount), 6) AS avg_disc,
    COUNT(*) AS count_order
FROM lineitem
GROUP BY l_returnflag, l_linestatus
""",
)
def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass multi-aggregate (A11, A1, A5, A6)."""
    from .plans.analytics import pricing_summary

    return pricing_summary(load_fixture(spark, sf_dir, "lineitem"))


@register(
    "ticker_metrics",
    _CHANGES_CTE
    + """
SELECT
    ticker,
    ROUND(STDDEV_SAMP(variacao_diaria), 6) AS volatilidade,
    ROUND(AVG(variacao_diaria), 6) AS variacao_media,
    ROUND(MAX(variacao_diaria), 6) AS maior_alta,
    ROUND(MIN(variacao_diaria), 6) AS maior_queda,
    COUNT(*) AS n_obs
FROM changes
WHERE variacao_diaria IS NOT NULL
GROUP BY ticker
""",
)
def q_ticker_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-instrument STDDEV/AVG/MAX/MIN (A4-A7, A11)."""
    from .plans.analytics import ticker_metrics

    return ticker_metrics(_lineitem_changes(spark, sf_dir))


@register(
    "volume_leaders",
    """
SELECT
    l_partkey AS ticker,
    SUM(l_quantity) AS total_volume,
    COUNT(*) AS n_trades
FROM lineitem
GROUP BY l_partkey
ORDER BY total_volume DESC, ticker ASC
LIMIT 5
""",
)
def q_volume_leaders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 volume (A6 + O1). l_quantity sums are integer-valued → exact."""
    from .plans.analytics import volume_leaders

    return volume_leaders(load_fixture(spark, sf_dir, "lineitem"), k=5)


@register(
    "segment_balance",
    """
SELECT
    c_mktsegment,
    ROUND(AVG(c_acctbal), 6) AS avg_balance,
    ROUND(SUM(c_acctbal), 2) AS total_balance,
    COUNT(*) AS n_customers
FROM customer
GROUP BY c_mktsegment
""",
)
def q_segment_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AVG/SUM per group (A5/A6)."""
    from .plans.analytics import segment_balance

    return segment_balance(load_fixture(spark, sf_dir, "customer"))


@register(
    "distinct_counts",
    """
SELECT
    COUNT(DISTINCT user_id) AS n_users,
    COUNT(DISTINCT event_type) AS n_event_types,
    COUNT(*) AS n_events
FROM events
""",
)
def q_distinct_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact COUNT DISTINCT (A9)."""
    from .plans.analytics import distinct_counts

    return distinct_counts(load_fixture(spark, sf_dir, "events"))


@register(
    "recent_extract",
    """
SELECT event_id, ts, user_id, event_type, value AS close
FROM events
ORDER BY ts DESC, event_id DESC
LIMIT 100
""",
)
def q_recent_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Projection + sort + deterministic LIMIT (P1/P2, O2, O3)."""
    from .plans.analytics import recent_extract

    return recent_extract(load_fixture(spark, sf_dir, "events"), limit=100)


@register(
    "star_revenue",
    """
SELECT
    r_name AS region,
    n_name AS nation,
    ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue,
    COUNT(*) AS n_items
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
GROUP BY r_name, n_name
""",
)
def q_star_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Star-schema consumption join, broadcast dims (J1/J2)."""
    from .plans.analytics import star_revenue

    t = {n: load_fixture(spark, sf_dir, n)
         for n in ("lineitem", "orders", "customer", "nation", "region")}
    return star_revenue(t["lineitem"], t["orders"], t["customer"],
                        t["nation"], t["region"])


@register(
    "customer_big_order_split",
    """
SELECT 'with' AS side, c_custkey, c_name, c_mktsegment
FROM customer c
WHERE EXISTS (
    SELECT 1 FROM orders o
    WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000.0
)
UNION ALL
SELECT 'without' AS side, c_custkey, c_name, c_mktsegment
FROM customer c
WHERE NOT EXISTS (
    SELECT 1 FROM orders o
    WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000.0
)
""",
)
def q_customer_big_order_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi (EXISTS) + left-anti (the ON CONFLICT DO NOTHING
    shape, J3/S6) in ONE gate — the r10 verdict's registry-headroom
    merge of ``customers_with_big_orders`` + ``customers_without_big_
    orders``: both sides still run the genuine semi/anti functions,
    and the union pins the exact PARTITION of the customer table (the
    two oracles' row sets are complementary by construction, so a
    customer leaking into both sides or neither breaks the hash)."""
    from .plans.analytics import (
        customers_with_big_orders,
        customers_without_big_orders,
    )

    c = load_fixture(spark, sf_dir, "customer")
    o = load_fixture(spark, sf_dir, "orders")
    with_side = customers_with_big_orders(c, o).select(
        F.lit("with").alias("side"), "*"
    )
    without_side = customers_without_big_orders(c, o).select(
        F.lit("without").alias("side"), "*"
    )
    return with_side.unionByName(without_side)


@register(
    "dim_snapshots",
    """
SELECT 'instrumento' AS dim,
       p_brand AS k1,
       'Ativo ' || p_brand AS k2,
       'Acao' AS k3,
       CAST(NULL AS VARCHAR) AS k4
FROM (SELECT DISTINCT p_brand FROM part)
UNION ALL
SELECT DISTINCT 'tempo',
       CAST(o_orderdate::DATE AS VARCHAR),
       CAST(EXTRACT(YEAR FROM o_orderdate) AS VARCHAR),
       CAST(EXTRACT(MONTH FROM o_orderdate) AS VARCHAR),
       CAST(EXTRACT(DOW FROM o_orderdate) AS VARCHAR)
FROM orders
""",
)
def q_dim_snapshots(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Both dimension derivations in ONE multi-variant gate (A8 DISTINCT
    dedup, F2-F4 incl. the PG DOW-1 fix, F8 concat, F9 literal) —
    round-11 merge of `dim_instrumento` + `dim_tempo` (the registry
    headroom rule: growth paired with retirements). RETIREMENT
    RATIONALE: the two gates exercised the same one-expression plan
    shape each (plans/dims.py:18,35 — narrow-key hash-agg distinct then
    computed columns), always green together since r02; the union pins
    BOTH derivations under one hash (a drift in either flips it), each
    row type discriminated by `dim` and projected to a common VARCHAR
    schema (dates/ints cast to strings — injective, so DISTINCT sets
    are preserved exactly). Their pytest coverage (test_pipeline)
    is untouched."""
    from .plans.dims import build_dim_instrumento, build_dim_tempo

    inst = build_dim_instrumento(
        load_fixture(spark, sf_dir, "part"), symbol_col="p_brand"
    ).select(
        F.lit("instrumento").alias("dim"),
        F.col("ticker").alias("k1"),
        F.col("nome_ativo").alias("k2"),
        F.col("tipo_ativo").alias("k3"),
        F.lit(None).cast("string").alias("k4"),
    )
    tempo = build_dim_tempo(
        load_fixture(spark, sf_dir, "orders"), date_col="o_orderdate"
    ).select(
        F.lit("tempo").alias("dim"),
        F.col("data_id").cast("string").alias("k1"),
        F.col("ano").cast("string").alias("k2"),
        F.col("mes").cast("string").alias("k3"),
        F.col("dia_da_semana").cast("string").alias("k4"),
    )
    return inst.unionAll(tempo)


@register(
    "url_canonical_dedup",
    """
WITH g AS (
    SELECT doc_id,
           ((doc_id - 2) // 9) // 6 AS fam,
           ((doc_id - 2) // 9) % 6 AS v
    FROM documents WHERE doc_id % 9 = 2
)
SELECT fam,
       'https://example' || fam || '.com/a/b?id=' || fam || '&p=1'
           AS canonical_url,
       COUNT(*) AS n_in,
       MIN(doc_id) AS survivor_id
FROM g WHERE v < 4
GROUP BY fam
UNION ALL
SELECT fam,
       'http://example' || fam || '.com:8080/a/b?id=' || fam
           AS canonical_url,
       COUNT(*) AS n_in,
       MIN(doc_id) AS survivor_id
FROM g WHERE v = 4
GROUP BY fam
UNION ALL
SELECT fam,
       'http://example' || fam || '.com:443/a/b?id=' || fam
           AS canonical_url,
       COUNT(*) AS n_in,
       MIN(doc_id) AS survivor_id
FROM g WHERE v = 5
GROUP BY fam
""",
)
def q_url_canonical_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL-canonicalization + URL-keyed crawl dedup HARD GATE
    (functions/text.canonicalize_url ∘ operators/corpus.url_dedup) —
    the provenance stage published crawl pipelines run before content
    dedup (RefinedWeb's url hygiene): every selected document SEXT
    (consecutive docs with doc_id % 9 = 2, grouped 6-by-6) carries
    six byte-DIFFERENT urls — the first FOUR of one page: (a) the
    clean form, (b) an UPPERCASED scheme+host with the default :443
    port, a trailing slash, a utm_ tracking param, reordered query
    params and a fragment, (c) [extended r13 with the scheme-fold +
    userinfo rules] an HTTP-scheme variant carrying USERINFO
    (``u:p@``), the http default :80 port, www. and doubled slashes,
    plus a trailing tracking param — http must FOLD to https, the
    credentials and :80 must strip, (d) [r12, with the percent-decode
    rule] a PERCENT-ENCODED variant (path letters as %61/%62, a param
    name as %70 — all RFC 3986 unreserved, so decoding is semantics-
    preserving) with a fragment-only '?' trap appended (#frag?x=9 —
    the r11 ADVICE phantom-query case: that '?' must NOT resurrect as
    a query) — and, r14 (the port-aware fold, r13 ADVICE), (e) a
    DISTINCT page on an explicit NON-default port
    (``HTTP://WWW...:8080//a//b/?id=f#x``): every hygiene rule still
    applies (case, www, slashes, trailing slash, fragment) but the
    scheme must NOT fold and :8080 must survive — an over-eager fold
    would wrongly merge it into the quad (n_in 4→5) AND break its own
    canonical string — and, NEW r15 (the :80-only default-strip, r14
    ADVICE), (f) a THIRD distinct page on ``:443`` under the http
    scheme (``HTTP://U:P@WWW...:443//a//b/?id=f&utm_source=z#y``):
    443 is NOT http's default — a plain-HTTP listener on 443 is a
    distinct endpoint — so the port must SURVIVE and pin the scheme
    (userinfo/case/www/slashes/tracking hygiene still applies); the
    r14 behavior (strip :443, fold to the https quad) would both
    over-merge (n_in 4→5) and break this member's canonical string.
    Built JVM-side from doc_id arithmetic; each sext collapses to
    THREE survivors (smallest doc_id each). The
    oracle derives everything from the CONSTRUCTION (the r10
    independent-formulation rule: fam arithmetic + string concat — it
    never runs a regex), so a canonicalization drift in ANY rule
    (case, port, www, slashes, trailing slash, fragment, tracking
    filter, param sort, percent-decode, fragment/query precedence,
    scheme fold + its port gate, userinfo strip) breaks the
    canonical_url hash, and an over-merge or under-merge breaks
    n_in/survivor_id."""
    sel = load_fixture(spark, sf_dir, "documents").filter(
        F.col("doc_id") % 9 == 2
    )
    k = ((F.col("doc_id") - 2) / 9).cast("long")
    fam = (k / 6).cast("long")
    variant = k % 6
    f = fam.cast("string")
    v0 = F.concat(
        F.lit("https://example"), f, F.lit(".com/a/b?id="), f, F.lit("&p=1")
    )
    v1 = F.concat(
        F.lit("HTTPS://EXAMPLE"), f,
        F.lit(".COM:443/a/b/?utm_source=x&p=1&id="), f, F.lit("#frag"),
    )
    v2 = F.concat(
        F.lit("http://u:p@www.example"), f, F.lit(".com:80//a//b?p=1&id="),
        f, F.lit("&utm_campaign=y"),
    )
    v3 = F.concat(
        F.lit("https://example"), f, F.lit(".com/%61/%62?%70=1&id="), f,
        F.lit("#frag?x=9"),
    )
    v4 = F.concat(
        F.lit("HTTP://WWW.EXAMPLE"), f, F.lit(".COM:8080//a//b/?id="), f,
        F.lit("#x"),
    )
    v5 = F.concat(
        F.lit("HTTP://U:P@WWW.EXAMPLE"), f,
        F.lit(".COM:443//a//b/?id="), f, F.lit("&utm_source=z#y"),
    )
    from .operators.corpus import url_dedup

    pages = sel.select(
        "doc_id",
        F.when(variant == 0, v0)
        .when(variant == 1, v1)
        .when(variant == 2, v2)
        .when(variant == 3, v3)
        .when(variant == 4, v4)
        .otherwise(v5)
        .alias("url"),
    )
    survivors = url_dedup(fan_out(pages, "doc_id"))
    return survivors.select(
        (((F.col("doc_id") - 2) / 9) / 6).cast("long").alias("fam"),
        "canonical_url",
        F.col("n_dups").alias("n_in"),
        F.col("doc_id").alias("survivor_id"),
    )


@register(
    "quality_gate",
    """
SELECT
    COUNT(*) AS total_rows,
    CAST(SUM(CASE WHEN l_extendedprice IS NULL OR l_shipdate IS NULL
                  THEN 1 ELSE 0 END) AS BIGINT) AS null_rows,
    (COUNT(*) > 0 AND
     SUM(CASE WHEN l_extendedprice IS NULL OR l_shipdate IS NULL
              THEN 1 ELSE 0 END) = 0) AS passed
FROM lineitem
""",
)
def q_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQLCheckOperator-style gate row (A1, A2, P4, P5)."""
    from .operators.quality import quality_summary

    return quality_summary(
        load_fixture(spark, sf_dir, "lineitem"),
        null_check_cols=["l_extendedprice", "l_shipdate"],
    )


@register(
    "quality_gate_exact",
    """
WITH base AS (
    SELECT
        COUNT(*) AS total_rows,
        CAST(SUM(CASE WHEN l_extendedprice IS NULL OR l_shipdate IS NULL
                      THEN 1 ELSE 0 END) AS BIGINT) AS null_rows
    FROM lineitem
)
SELECT 'exact_ok' AS variant, total_rows, null_rows,
       (total_rows = (SELECT COUNT(*) FROM lineitem) AND null_rows = 0) AS passed
FROM base
UNION ALL
SELECT 'exact_off_by_one' AS variant, total_rows, null_rows,
       (total_rows = (SELECT COUNT(*) FROM lineitem) + 1 AND null_rows = 0) AS passed
FROM base
""",
)
def q_quality_gate_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-count gate branch, both outcomes (A1, A2, C4).

    The reference pins COUNT(*) = 750000
    (reference: dags/financial_pipeline.py:132) — a literal known to the
    operator author. Here the literal is obtained by a driver-side count
    (one scalar moves), then fed to the same gate twice: once matching
    (passed=true) and once deliberately off by one (passed=false), so BOTH
    branches of the conjunction are oracle-pinned.
    """
    from .operators.quality import quality_summary

    li = load_fixture(spark, sf_dir, "lineitem")
    n = li.count()
    cols = ["l_extendedprice", "l_shipdate"]
    ok = quality_summary(li, null_check_cols=cols, expected_count=n).select(
        F.lit("exact_ok").alias("variant"), "total_rows", "null_rows", "passed"
    )
    off = quality_summary(li, null_check_cols=cols, expected_count=n + 1).select(
        F.lit("exact_off_by_one").alias("variant"), "total_rows", "null_rows", "passed"
    )
    return ok.unionByName(off)


@register(
    "fk_orphan_check",
    """
SELECT 'fk_lineitem_orders' AS constraint_name,
       COUNT(*) AS orphan_rows, COUNT(*) = 0 AS passed
FROM lineitem
WHERE l_orderkey IS NOT NULL
  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_orderkey = l_orderkey)
UNION ALL
SELECT 'fk_lineitem_part' AS constraint_name,
       COUNT(*) AS orphan_rows, COUNT(*) = 0 AS passed
FROM lineitem
WHERE l_partkey IS NOT NULL
  AND NOT EXISTS (SELECT 1 FROM part WHERE p_partkey = l_partkey)
UNION ALL
SELECT 'fk_orders_customer' AS constraint_name,
       COUNT(*) AS orphan_rows, COUNT(*) = 0 AS passed
FROM orders
WHERE o_custkey IS NOT NULL
  AND NOT EXISTS (SELECT 1 FROM customer WHERE c_custkey = o_custkey)
""",
)
def q_fk_orphan_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FK orphan audit: fact→dim anti-join counters (SURVEY §1.2, J3 class).

    The reference enforces these as PG FOREIGN KEY constraints
    (reference: dags/financial_pipeline.py:172-173); a columnar lake has no
    constraint engine, so the same guarantee becomes an explicit quality
    gate after load.
    """
    from .operators.quality import fk_orphans

    li = load_fixture(spark, sf_dir, "lineitem")
    orders = load_fixture(spark, sf_dir, "orders")
    checks = [
        fk_orphans(li, orders, keys={"l_orderkey": "o_orderkey"},
                   constraint="fk_lineitem_orders"),
        fk_orphans(li, load_fixture(spark, sf_dir, "part"),
                   keys={"l_partkey": "p_partkey"},
                   constraint="fk_lineitem_part"),
        fk_orphans(orders, load_fixture(spark, sf_dir, "customer"),
                   keys={"o_custkey": "c_custkey"},
                   constraint="fk_orders_customer"),
    ]
    out = checks[0]
    for c in checks[1:]:
        out = out.unionByName(c)
    return out


@register(
    "brand_scores",
    """
WITH stats AS (
    SELECT p_brand AS brand,
           AVG(p_retailprice) AS avg_price,
           AVG(p_size) AS avg_size
    FROM part
    GROUP BY p_brand
), scaled AS (
    SELECT
        brand, avg_price, avg_size,
        (avg_price - MIN(avg_price) OVER ())
            / NULLIF(MAX(avg_price) OVER () - MIN(avg_price) OVER (), 0) * 100
            AS price_scaled,
        (avg_size - MIN(avg_size) OVER ())
            / NULLIF(MAX(avg_size) OVER () - MIN(avg_size) OVER (), 0) * 100
            AS size_scaled
    FROM stats
)
SELECT
    brand,
    ROUND(avg_price, 6) AS avg_price,
    ROUND(avg_size, 6) AS avg_size,
    ROUND(price_scaled, 6) AS price_scaled,
    ROUND(size_scaled, 6) AS size_scaled,
    ROUND(price_scaled * 0.6 + size_scaled * 0.4, 6) AS score
FROM scaled
ORDER BY price_scaled * 0.6 + size_scaled * 0.4 DESC, brand ASC
LIMIT 3
""",
)
def q_brand_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Min-max normalize + weighted profile score, top-3 (A10, F11, O1)."""
    from .plans.analytics import brand_scores

    return brand_scores(load_fixture(spark, sf_dir, "part"), k=3)


@register(
    "returnflag_correlation",
    """
SELECT
    l_returnflag,
    ROUND(CORR(l_quantity, l_extendedprice), 6) AS corr_qty_price,
    COUNT(*) AS n
FROM lineitem
GROUP BY l_returnflag
""",
)
def q_returnflag_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation per group (SURVEY §7.3-11)."""
    from .plans.analytics import returnflag_correlation

    return returnflag_correlation(load_fixture(spark, sf_dir, "lineitem"))


@register(
    "latest_event_per_user",
    """
WITH ranked AS (
    SELECT
        user_id, ts, event_type, value,
        ROW_NUMBER() OVER (PARTITION BY user_id
                           ORDER BY ts DESC, event_id DESC) AS rn
    FROM events
)
SELECT user_id, ts AS last_ts, event_type AS last_event_type,
       value AS last_value
FROM ranked
WHERE rn = 1
""",
)
def q_latest_event_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-by-latest via ranking window (top_k_per_group)."""
    from .plans.analytics import latest_event_per_user

    return latest_event_per_user(load_fixture(spark, sf_dir, "events"))


@register(
    "events_json_kpi",
    """
SELECT
    event_type,
    ROUND(AVG(CAST(json_extract_string(props, '$.k') AS INT)), 6) AS avg_k,
    MAX(CAST(json_extract_string(props, '$.k') AS INT)) AS max_k,
    COUNT(*) AS n
FROM events
GROUP BY event_type
""",
)
def q_events_json_kpi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON field extraction + aggregate over events.props (§7.5)."""
    from .plans.analytics import events_json_kpi

    return events_json_kpi(load_fixture(spark, sf_dir, "events"))
