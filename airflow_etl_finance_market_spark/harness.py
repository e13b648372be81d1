"""Driver-harness registry: named fixture queries + their DuckDB oracle SQL.

Every operator claimed in SURVEY.md §2 registers here twice:

- a PySpark implementation ``(spark, sf_dir) -> DataFrame`` built from the
  engine's modules, and
- the equivalent ANSI SQL the DuckDB oracle runs on the same parquet tables.

Contract notes (see /root/repo/__spark_entry__.py):
- the driver compares row-count + schema + ORDER-INSENSITIVE value hash, and
  sorts columns BY NAME — so every computed column is aliased identically on
  both sides;
- float results are rounded at the presentation edge (ROUND, F6 semantics) on
  BOTH sides so cross-engine last-ulp summation noise cannot flip the hash;
- any ORDER BY ... LIMIT k carries a deterministic tiebreak.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .plans.volatility import daily_pct_change, top_avg_volatility, weekly_volatility
from .sources.readers import load_fixture, load_fixtures
from .util import fan_out

QueryFn = Callable[[SparkSession, str], DataFrame]

_QUERIES: dict[str, QueryFn] = {}
_ORACLES: dict[str, str] = {}


def register(name: str, oracle: str | None = None):
    """Decorator: register a harness query (and its oracle SQL, if any)."""

    def deco(fn: QueryFn) -> QueryFn:
        _QUERIES[name] = fn
        if oracle is not None:
            _ORACLES[name] = oracle
        return fn

    return deco


#: Entries pushed to the BACK of the registry order. Only the first 50
#: registered names are oracle-verified each round (one CORRECTNESS_r*.json
#: ledger per round); demoted entries get no ledger row that round, so the
#: window is a RE-VERIFICATION cadence (tests/test_harness_window.py
#: derives rules 1 and 3 from the ledgers):
#:
#: 1. entries with no ledger row yet are always in-window;
#: 2. entries whose depended-on code changed re-enter the window (judged at
#:    rotation time — not mechanically checkable);
#: 3. no demoted entry's last green ledger row may be more than 2 rounds
#:    behind the newest CORRECTNESS file.
_WINDOW_DEMOTED = [
    # r14-green: oldest ledger rows, due back in the window next round
    "latest_event_per_user",
    "events_json_kpi",
    "doc_token_stats",
    "sql_api_nation_rank",
    "rolling_close_avg",
    "qty_rollup",
    "customer_set_ops",
    "status_flag_pivot",
    "sliding_window_kpis",
    "pricey_parts_vs_brand_avg",
    "customer_order_coverage",
    "top_performers",
    "train_test_split",
    "doc_chunks",
    "doc_bm25_topk",
    "doc_bigram_logprob",
    "doc_edit_distance_near_dups",
    "doc_containment_pairs",
    "html_text_extract",
    "weekly_user_kmv_rollup",
    "cross_doc_ngram_overlap",
    "corpus_prep_pipeline",
    "term_heavy_hitters",
    "weekly_value_quantile_rollup",
    "unicode_fold_dedup",
    # r16-green: verified in the newest ledger
    "recent_extract",
    "url_canonical_dedup",
    "quality_gate",
    "doc_exact_dedup",
    "doc_lang_id",
    "purchase_attribution",
    "user_sessions",
    "top_docs_per_lang",
    "term_frequencies",
    "doc_repetition_stats",
    "split_balance",
    "doc_tfidf_top_terms",
    "doc_winnow_fingerprints",
    "doc_stratified_sample",
    "doc_unigram_logprob",
    "event_funnel",
    "user_retention_cohorts",
    "doc_inverted_index",
    "term_pmi_pairs",
    "event_transition_matrix",
    "top_event_trigrams",
    "regional_supplier_volume",
    "ohlcv_weekly_bars",
    "ticker_max_drawdown",
    "ticker_beta",
    "doc_source_quota_sample",
    "ticker_pair_correlation",
    "part_supplier_pagerank",
    "user_funnel_times",
    "streaming_funnel_ooo",
    "weekly_activity_panel",
    "domain_blocklist_filter",
]

#: The driver verifies exactly this many leading registry entries per round.
_DRIVER_WINDOW = 50


from contextlib import contextmanager


@contextmanager
def _bounded_stream_shuffle(spark: SparkSession, n: int = 8):
    """Cap ``spark.sql.shuffle.partitions`` while a streaming gate runs.

    A streaming query fixes its STATE-STORE partition count from the
    session's shuffle partitions at first start; under the driver's
    vanilla session that is 200, and a 3-micro-batch stateful gate then
    pays 200 state partitions x batches of Arrow/python-worker round
    trips for a 150-key fixture (~2 min wall). 8 partitions is the same
    semantics at ~1/20 the constant. Restored in ``finally`` so the
    batch twins and every other harness entry keep the session default.
    At production scale the equivalent knob is sizing state partitions
    to key cardinality — state stores are per-partition, not per-key.
    """
    key = "spark.sql.shuffle.partitions"
    # a registered conf with a default: get() always returns a value
    old = spark.conf.get(key)
    spark.conf.set(key, str(n))
    try:
        yield
    finally:
        spark.conf.set(key, old)


_STREAM_GATE_SEQ = 0


def _next_stream_seq() -> int:
    """Monotonic uniquifier for the streaming gates' memory-sink /
    checkpoint names — ONE counter for the whole registry (it lives
    here, not in a tier module) so repeated runs of any gate in one
    session (bench best-of-3, the emulator) never reuse a sink
    table name."""
    global _STREAM_GATE_SEQ
    _STREAM_GATE_SEQ += 1
    return _STREAM_GATE_SEQ


def _window_order(d: dict) -> dict:
    demoted = [n for n in _WINDOW_DEMOTED if n in d]
    return {
        **{k: v for k, v in d.items() if k not in _WINDOW_DEMOTED},
        **{n: d[n] for n in demoted},
    }


def _check_window_fit() -> None:
    """Fail LOUDLY if non-demoted entries outgrow the driver's window —
    otherwise a newly registered query silently falls past slot 50 and
    never earns a driver correctness row."""
    n_live = len(_QUERIES) - sum(1 for n in _WINDOW_DEMOTED if n in _QUERIES)
    if n_live > _DRIVER_WINDOW:
        raise RuntimeError(
            f"{n_live} non-demoted harness entries exceed the "
            f"{_DRIVER_WINDOW}-query driver window; demote more "
            "twice-driver-verified entries in harness._WINDOW_DEMOTED"
        )


def queries() -> dict[str, QueryFn]:
    _check_window_fit()
    return _window_order(_QUERIES)


def oracles() -> dict[str, str]:
    _check_window_fit()
    return _window_order(_ORACLES)


# ---------------------------------------------------------------------------
# Shared fixture shapes
# ---------------------------------------------------------------------------

#: lineitem as an OHLCV-like series: instrument=l_partkey, ts=l_shipdate,
#: close=l_extendedprice. Several lineitems can share a ship date, so the
#: LAG ordering carries (l_orderkey, l_linenumber) to stay total/deterministic.
_SERIES_TIEBREAK = ("l_orderkey", "l_linenumber")

#: The same window, spelled once for the oracle side.
_SERIES_WINDOW_SQL = (
    "PARTITION BY l_partkey ORDER BY l_shipdate, l_orderkey, l_linenumber"
)


def _lineitem_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_fixture(spark, sf_dir, "lineitem").select(
        F.col("l_partkey").alias("ticker"),
        F.col("l_shipdate").alias("ts"),
        F.col("l_extendedprice").alias("close"),
        "l_orderkey",
        "l_linenumber",
    )


def _lineitem_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    return daily_pct_change(
        _lineitem_series(spark, sf_dir),
        key="ticker",
        ts="ts",
        value="close",
        order_tiebreak=_SERIES_TIEBREAK,
    )


_CHANGES_CTE = f"""
WITH changes AS (
    SELECT
        l_partkey AS ticker,
        l_shipdate AS ts,
        (l_extendedprice - LAG(l_extendedprice) OVER w)
            / NULLIF(LAG(l_extendedprice) OVER w, 0) * 100 AS variacao_diaria
    FROM lineitem
    WINDOW w AS ({_SERIES_WINDOW_SQL})
)
"""

# ---------------------------------------------------------------------------
# Flagship chain (W1 W2 F1 F7 A3 P3 A5 O1)
# ---------------------------------------------------------------------------


# ---------------------------------------------------------------------------
# Tier modules: the registry is assembled by importing one module per tier;
# import order is registration order. That order decides nothing the driver
# checks: _check_window_fit keeps the live (non-demoted) entries at 50 or
# fewer, so every live entry is inside the driver window whatever its slot;
# which demoted entries fill the rest of the window is fixed by the order of
# _WINDOW_DEMOTED; and the CORRECTNESS ledgers are keyed by entry name. A
# gate may therefore move between tier modules without a rotation.
# ---------------------------------------------------------------------------

from . import harness_parity  # noqa: E402,F401
from . import harness_corpus  # noqa: E402,F401
from . import harness_events  # noqa: E402,F401
from . import harness_markets  # noqa: E402,F401
from . import harness_streaming  # noqa: E402,F401

# driver-entry surface: __spark_entry__.entry() runs harness.flagship
from .harness_parity import flagship  # noqa: E402,F401
