#!/usr/bin/env python
"""Regenerate PLANS.md: formatted physical plans of the headline queries."""
from __future__ import annotations

import contextlib
import io
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

NAMES = [
    "weekly_volatility", "top_avg_volatility", "star_revenue",
    "pricing_summary", "purchase_attribution", "rolling_close_avg",
    "windowed_event_kpis",
    "sql_api_nation_rank", "curated_corpus", "term_frequencies",
    "doc_chunks", "doc_repetition_stats",
    # round 3: the new corpus operators
    "doc_tfidf_top_terms", "doc_winnow_fingerprints",
    "reorder_within_30d", "doc_stratified_sample",
    "doc_unigram_logprob",
    # round 4: retrieval, association stats, sequential event analytics,
    # robust audits, graph + SCD2 oracle tiers
    "doc_bm25_topk", "doc_inverted_index", "term_pmi_pairs",
    "doc_bigram_logprob", "doc_edit_distance_near_dups",
    "doc_containment_pairs", "event_funnel", "user_retention_cohorts",
    "event_transition_matrix", "event_value_outliers", "doc_length_deciles",
    "view_click_attribution",
    "doc_near_dup_triangles", "price_trend_regression", "customer_tier_scd2",
    "trailing_7d_avg_price", "doc_token_entropy", "corpus_lang_source_chi2",
    "top_event_trigrams",
    # round 4, market tier: OHLCV bar resample (pure hash-agg, no Window),
    # running-peak drawdown (single exchange), CAPM beta (market frame
    # broadcast), per-domain quota cap (single exchange window)
    "ohlcv_weekly_bars", "ticker_max_drawdown", "ticker_beta",
    "doc_source_quota_sample",
    # integer fixed-point PageRank (3 unrolled rounds over the
    # part-supplier graph; the printed plan nests the per-round
    # edges⋈scores join + dst-sum three deep)
    "part_supplier_pagerank",
    # corpus-derived integer-rate rebalancing (broadcast thresholds,
    # shuffle-free corpus side)
    "doc_lang_rebalance",
    # UNPIVOT/melt as a one-pass projection (Expand over one aggregate)
    "ticker_stats_unpivot",
    # round 5: degree-oriented triangle enumeration (wedge self-join with
    # the degree stamp bounding per-vertex fan-out), A-ES weighted
    # sampling (map-side race key + one group exchange), pairwise return
    # correlation (broadcast top-N gate + day-keyed self-join),
    # one-pass duplicate-span detection (single Generate + window, no
    # joins), per-user funnel reach times (user-keyed shrinking joins),
    # calendar gap-fill (sequence spine + IGNORE NULLS last_value), and
    # percent_rank/cume_dist (one shared window sort)
    "doc_near_dup_triangles_degree", "doc_weighted_sample",
    "ticker_pair_correlation", "doc_duplicate_spans", "user_funnel_times",
    "events_daily_ffill", "order_price_percent_rank",
    # round 6: the ffill + mergeable-HLL weekly composition (the E2E
    # activity-rollup surface; panel window + sketch-merge join)
    "weekly_activity_panel",
    # round 7: the published-filter tier — shuffle-free rule bundle and
    # the broadcast-ratio-join importance weights
    "gopher_quality_flags",
    "dsir_importance_weights",
    # round 8: the KMV theta rollup (join-free array arithmetic over
    # <= k-element sketches; two grouped-top-k windows upstream)
    "weekly_user_kmv_rollup",
    # round 12: the provenance tier (codegen canonicalization chain +
    # md5-keyed window; suffix-explode + broadcast anti-join), the
    # bucketed token-budget selection (filter + ONE bucket-confined
    # window, no corpus-wide sort), and the one-pass C4 rule-struct
    # line filter (single transform, boolean-field derivations)
    "url_canonical_dedup",
    "domain_blocklist_filter",
    "token_budget_corpus_select",
    "c4_line_filter",
    # round 13: duplicate-span REMOVAL (the span stream shuffles once —
    # three windows over one h-clustered exchange — then coverage
    # explode + id-keyed reassembly join)
    "doc_duplicate_span_removal",
    # round 14: the unicode fold (detector-split union — the ASCII
    # branch filter-only, ONE MapInPandas on the non-ASCII branch —
    # feeding the fingerprint hash-agg)
    "unicode_fold_dedup",
]


def main() -> None:
    from airflow_etl_finance_market_spark import harness
    from airflow_etl_finance_market_spark.session import get_spark

    spark = get_spark("plans", master="local[8]", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    qs = harness.queries()
    out = [
        "# PLANS — formatted physical plans of the headline queries",
        "",
        "Generated from `spark.sql`/DataFrame plans at sf0.001 (plan shape is",
        "scale-invariant; AQE may further coalesce at runtime). Regenerate with",
        "`python tools/dump_plans.py`.",
        "",
    ]
    for n in NAMES:
        df = qs[n](spark, "/root/testdata/sf0.001")
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        out += [f"## {n}", "", "```", buf.getvalue().rstrip(), "```", ""]
    with open(f"{REPO}/PLANS.md", "w") as f:
        f.write("\n".join(out))
    print(f"wrote {REPO}/PLANS.md")


if __name__ == "__main__":
    main()
