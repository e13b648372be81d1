"""Physical-plan regressions: the plan properties the engine's scale story
depends on, pinned so a refactor can't silently lose them (the build rule:
`.explain` until it's the plan you want, then keep it that way).
"""

from __future__ import annotations

import re

from pyspark.sql import functions as F

from airflow_etl_finance_market_spark import harness
from airflow_etl_finance_market_spark.sources.readers import load_fixture


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_star_join_broadcasts_dims(spark, sf_dir):
    """J1/J2: every dim side of the star join must broadcast — a shuffle
    join against a 5-row region table would shuffle the fact for nothing."""
    plan = plan_of(harness.queries()["star_revenue"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan  # all four dims fit broadcast


def test_topk_plans_as_take_ordered(spark, sf_dir):
    """O1: ORDER BY .. LIMIT k must be TakeOrderedAndProject (true top-k),
    never a full global Sort materialization."""
    plan = plan_of(harness.queries()["volume_leaders"](spark, sf_dir))
    assert "TakeOrderedAndProject" in plan


def test_filter_pushdown_reaches_parquet(spark, sf_dir):
    """Predicates on scans must appear as PushedFilters in the reader."""
    orders = load_fixture(spark, sf_dir, "orders")
    plan = plan_of(orders.filter(F.col("o_totalprice") > 400000.0).select("o_orderkey"))
    assert "PushedFilters: [IsNotNull(o_totalprice), GreaterThan(o_totalprice,400000.0)]" in plan


def test_column_pruning_reaches_parquet(spark, sf_dir):
    """A 2-column projection must scan 2 columns, not the whole table."""
    li = load_fixture(spark, sf_dir, "lineitem")
    plan = plan_of(li.select("l_orderkey", "l_quantity"))
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "l_orderkey" in read_schema and "l_quantity" in read_schema
    assert "l_extendedprice" not in read_schema


def test_aggregation_is_partial_then_final(spark, sf_dir):
    """A11: map-side partial aggregation before the exchange."""
    plan = plan_of(harness.queries()["pricing_summary"](spark, sf_dir))
    assert plan.count("HashAggregate") >= 2
    assert "partial_sum" in plan  # map-side combine before the exchange


def test_partitioned_fact_scan_prunes_partitions(spark, tmp_path):
    """The pipeline's fact table is partitioned by year; a year-filtered
    read must prune at the PartitionFilters level (at 100 TB this is the
    difference between scanning one year and scanning the decade)."""
    import datetime as dt

    rows = [
        (t, dt.date(2023 + t % 3, 1, 5 + i), 10.0 + i)
        for t in range(3)
        for i in range(5)
    ]
    df = spark.createDataFrame(rows, "ticker long, data_id date, close double")
    path = str(tmp_path / "fact")
    df.withColumn("ano", F.year("data_id")).write.partitionBy("ano").parquet(path)

    plan = plan_of(spark.read.parquet(path).filter(F.col("ano") == 2024))
    assert "PartitionFilters: [isnotnull(ano" in plan or "PartitionFilters: [(ano" in plan
    # the data filter list stays empty — the predicate is partition-only
    part_line = [ln for ln in plan.splitlines() if "PartitionFilters" in ln][0]
    assert "2024" in part_line


def test_bucketed_join_has_no_exchange(spark, sf_dir):
    """Identically-bucketed tables must join with zero Exchange nodes —
    the write-once/join-free contract that amortizes the shuffle of a
    repeated fact⋈fact join at scale."""
    from airflow_etl_finance_market_spark.sources.sinks import write_bucketed_table

    # managed tables land in the session's spark-warehouse dir (static
    # conf); DROP TABLE below removes the data, .gitignore covers the dir
    li = load_fixture(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_quantity", "l_extendedprice"
    )
    orders = load_fixture(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderdate"
    )
    write_bucketed_table(li, "li_bkt", bucket_by=["l_orderkey"], n_buckets=8)
    write_bucketed_table(orders, "ord_bkt", bucket_by=["o_orderkey"], n_buckets=8)
    try:
        joined = (
            spark.table("li_bkt")
            .hint("merge")  # force SMJ so broadcast doesn't mask the check
            .join(
                spark.table("ord_bkt"),
                F.col("l_orderkey") == F.col("o_orderkey"),
            )
        )
        plan = plan_of(joined)
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan
        # bucketed scan is announced in the plan
        assert "SelectedBucketsCount" in plan
        # and the result is still correct
        assert joined.count() == li.join(orders, F.col("l_orderkey") == F.col("o_orderkey")).count()
    finally:
        spark.sql("DROP TABLE IF EXISTS li_bkt")
        spark.sql("DROP TABLE IF EXISTS ord_bkt")


def test_cc_bucketed_edges_round_has_no_edge_side_exchange(spark, sf_dir):
    """The per-round edge⋈labels join of connected components must plan
    with NO Exchange on the edge side when the symmetrized edge list is
    bucketed on the join vertex — at 100 TB the edge list is the frame
    you can never afford to reshuffle every round (graph.py's scale
    claim, pinned). Labels (|V| rows) may still exchange."""
    from airflow_etl_finance_market_spark.operators.graph import (
        connected_components,
        symmetrize_edges_bucketed,
    )

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6), (9, 9)], ["src", "dst"]
    )
    sym = symmetrize_edges_bucketed(edges, "cc_sym_bkt", n_buckets=4)
    try:
        labels = spark.range(10).select(
            F.col("id"), F.col("id").alias("component")
        )
        joined = sym.hint("merge").join(labels, sym["v"] == labels["id"])
        plan = plan_of(joined)
        assert "SortMergeJoin" in plan
        # exactly one shuffle — the labels side; the bucketed edge scan
        # provides its partitioning from storage
        assert plan.count("Exchange hashpartitioning") == 1
        assert "SelectedBucketsCount" in plan
        # and the full operator accepts the bucketed frame and agrees
        # with the self-symmetrizing path
        got = connected_components(
            edges, sym=sym, vertices=spark.range(10), id_col="id"
        )
        want = connected_components(edges, vertices=spark.range(10), id_col="id")
        assert sorted(map(tuple, got.collect())) == sorted(
            map(tuple, want.collect())
        )
    finally:
        spark.sql("DROP TABLE IF EXISTS cc_sym_bkt")


def test_train_test_split_is_shuffle_free(spark, sf_dir):
    """The split assignment is a pure map-side projection: any Exchange
    would mean the 'no-shuffle, re-derivable per row' contract broke."""
    plan = plan_of(harness.queries()["train_test_split"](spark, sf_dir))
    assert "Exchange" not in plan


def test_term_frequencies_single_data_shuffle(spark, sf_dir):
    """Fan-out keyed on doc_id co-locates each doc's occurrences, so the
    per-doc pre-aggregate reuses that partitioning; only the final
    term-keyed exchange remains (2 total incl. the fan-out itself)."""
    plan = plan_of(harness.queries()["term_frequencies"](spark, sf_dir))
    assert plan.count("Exchange") == 2
    assert "TakeOrderedAndProject" in plan


def test_curated_corpus_single_scan_kernels_once(spark, sf_dir):
    """The curation chain must scan the corpus ONCE, evaluate the text
    kernels ONCE above the fan-out exchange, and select survivors with a
    window — not a groupBy+semi-join (which rescans and rescores). The
    quality/lang filter must stay above the window so predicate pushdown
    can't alias-substitute the interpreted kernels into a scan-stage filter
    (the round-1 pathology: ~30x re-inlined tokenize on a 1-task scan)."""
    plan = plan_of(harness.queries()["curated_corpus"](spark, sf_dir))
    assert plan.count("Scan parquet") == 1
    assert "Join" not in plan
    assert plan.count("Exchange") == 2  # fan-out + fp-keyed window
    assert plan.count("split(") == 1  # tokenize kernel evaluated once
    # below the fan-out exchange there is only the scan — no filter
    below_fan_out = plan.split("Exchange RoundRobinPartitioning")[1]
    assert "- Filter " not in below_fan_out  # no Filter NODE in the scan stage
    assert "DataFilters: []" in below_fan_out and "PushedFilters: []" in below_fan_out
    # rank-1 survivor selection prunes duplicates map-side, pre-exchange
    assert plan.count("WindowGroupLimit") == 2


def test_grouped_topk_prunes_before_exchange(spark, sf_dir):
    """top_k_per_group must plan WindowGroupLimit partial+final: rows
    beyond k are dropped map-side, before the group-key shuffle."""
    plan = plan_of(harness.queries()["top_docs_per_lang"](spark, sf_dir))
    assert plan.count("WindowGroupLimit") == 2


def test_winnowing_is_map_side_until_distinct(spark, sf_dir):
    """The sliding MIN runs array-side (transform + slice + array_min):
    NO Window operator — the per-doc sort a rowsBetween frame would
    require is gone — and the only exchanges are the fan_out plus the
    final (doc_id, fp) distinct over the already-sampled fingerprints."""
    plan = plan_of(harness.queries()["doc_winnow_fingerprints"](spark, sf_dir))
    assert "Window" not in plan
    assert plan.count("Exchange") <= 2


def test_tfidf_broadcasts_doc_count(spark, sf_dir):
    """The global-N one-row frame must broadcast into the scored join; a
    shuffle against a scalar would re-exchange the whole per-doc frame."""
    plan = plan_of(harness.queries()["doc_tfidf_top_terms"](spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_bm25_term_filter_is_map_side_and_stats_broadcast(spark, sf_dir):
    """BM25's explode is filtered to the query terms BEFORE the (doc, term)
    shuffle — the aggregate must only see query-term rows — and both tiny
    frames (document frequencies, corpus stats) broadcast. The ranking is
    a TakeOrderedAndProject, never a full sort."""
    from airflow_etl_finance_market_spark.operators.retrieval import bm25_topk

    df = bm25_topk(
        load_fixture(spark, sf_dir, "documents"), ["spark", "merge"], k=5
    )
    plan = plan_of(df)
    assert "TakeOrderedAndProject" in plan
    assert plan.count("BroadcastExchange") == 2
    lines = plan.splitlines()
    filt = [i for i, ln in enumerate(lines) if "Filter" in ln and "spark" in ln]
    exch = [
        i for i, ln in enumerate(lines) if "Exchange hashpartitioning" in ln
    ]
    assert filt and exch
    # tree prints parents first: the term filter sitting AFTER the first
    # exchange line means it executes BELOW it, i.e. map-side
    assert filt[0] > exch[0]


def test_iqr_fences_broadcast(spark, sf_dir):
    """The per-group fence frame (|groups| rows) must BROADCAST back onto
    the events scan — shuffling the full table against a tiny stats frame
    would double the heavy exchange."""
    plan = plan_of(harness.queries()["event_value_outliers"](spark, sf_dir))
    assert "BroadcastExchange" in plan
    assert "BroadcastHashJoin" in plan


def test_pmi_vocab_gate_broadcasts(spark, sf_dir):
    """The df-gated vocabulary must broadcast into the occurrence stream
    (semi-join gate) and the final ranking must be a TakeOrderedAndProject
    — pair generation being doc-keyed is what bounds the quadratic step."""
    plan = plan_of(harness.queries()["term_pmi_pairs"](spark, sf_dir))
    assert "TakeOrderedAndProject" in plan
    assert plan.count("BroadcastExchange") >= 3  # vocab x2 + N (+ reuse)


def test_inverted_index_single_term_aggregate(spark, sf_dir):
    """df and the posting list must come out of ONE term-keyed aggregate:
    exactly two hashpartitioning exchanges total (the doc-keyed fan_out,
    reused by nothing else here, and the term shuffle) — a separate
    countDistinct pass would add a third."""
    import re

    plan = plan_of(harness.queries()["doc_inverted_index"](spark, sf_dir))
    assert len(re.findall(r"Exchange hashpartitioning", plan)) <= 2


def test_funnel_exchanges_only_on_user_key(spark, sf_dir):
    """Every shuffle in the funnel must be keyed on the user id — the
    step-chaining joins and per-step aggregates all reuse that clustering;
    any other key would mean an accidental re-shuffle of event rows."""
    import re

    plan = plan_of(harness.queries()["event_funnel"](spark, sf_dir))
    keys = set(re.findall(r"Exchange hashpartitioning\((\w+)#", plan))
    assert keys <= {"user_id"}


def test_edit_distance_blocking_is_equi_join(spark, sf_dir):
    """The length-bucket blocking must plan as an EQUI-join (hash or
    sort-merge on the bucket key) — never a BroadcastNestedLoopJoin or
    CartesianProduct, which would be the all-pairs O(n²) shape."""
    plan = plan_of(
        harness.queries()["doc_edit_distance_near_dups"](spark, sf_dir)
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_q5_star_join_no_cartesian_all_dims_broadcast(spark, sf_dir):
    """The six-table Q5 shape must plan without any nested-loop/cartesian
    join, with the small side broadcast at fixture scale — evidence that
    declaring plain joins and letting Catalyst reorder is sufficient."""
    plan = plan_of(harness.queries()["regional_supplier_volume"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert plan.count("BroadcastHashJoin") >= 4


def test_ohlcv_bars_is_pure_hash_agg_no_window(spark, sf_dir):
    """OHLCV resample must plan as ONE exchange + partial/final hash-agg:
    min_by/max_by replace the windowed first/last, so no per-partition
    Sort and no Window operator may appear."""
    plan = plan_of(harness.queries()["ohlcv_weekly_bars"](spark, sf_dir))
    assert "Window" not in plan
    assert plan.count("Exchange") == 1
    assert "partial_min_by" in plan or "partial_minby" in plan.lower()


def test_max_drawdown_single_exchange(spark, sf_dir):
    """The running-peak window partitions by ticker and the trough groupBy
    keys on ticker too — the follow-up aggregate must REUSE the window's
    hash(ticker) layout, not re-shuffle."""
    plan = plan_of(harness.queries()["ticker_max_drawdown"](spark, sf_dir))
    assert "Window" in plan
    assert plan.count("Exchange") == 1


def test_ticker_beta_market_frame_broadcasts(spark, sf_dir):
    """The one-row-per-day market frame must broadcast back onto the
    per-(ticker, day) fact — a shuffle join would move the fact twice."""
    plan = plan_of(harness.queries()["ticker_beta"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_source_quota_single_exchange(spark, sf_dir):
    """Per-source quota = one shuffle on source; the rank filter keeps
    running-window form (row_number, no full materialized sort beyond the
    per-group one)."""
    plan = plan_of(harness.queries()["doc_source_quota_sample"](spark, sf_dir))
    assert plan.count("Exchange") == 1
    assert "Window" in plan


def test_rebalance_thresholds_broadcast_corpus_never_shuffles(spark, sf_dir):
    """The one-row-per-stratum threshold frame must broadcast onto the
    corpus; the corpus side may not exchange (map-side join + filter)."""
    plan = plan_of(harness.queries()["doc_lang_rebalance"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_unpivot_is_single_pass_no_extra_scan(spark, sf_dir):
    """DataFrame.unpivot must melt as a projection over ONE aggregate pass
    — the SQL spelling (3x UNION ALL over the CTE) would scan it thrice."""
    plan = plan_of(harness.queries()["ticker_stats_unpivot"](spark, sf_dir))
    assert plan.count("Scan parquet") + plan.count("FileScan") <= 2
    assert "Expand" in plan or "Generate" in plan  # the melt operator


def test_ngram_kernel_stays_zip_with_chain(spark):
    """Regression guard for the round-4 shingle-kernel rewrite: the word
    n-gram expression must plan as the zip_with chain over n pre-shifted
    slices — NOT transform(sequence(...), i -> concat_ws(slice(...))),
    which allocates one slice array PER SHINGLE inside an interpreted
    lambda and measured 4.4x slower at 50k docs. The old formulation's
    fingerprint is a transform over a sequence(); fail on any
    reintroduction."""
    from airflow_etl_finance_market_spark.functions.text import word_ngrams

    df = spark.createDataFrame([("a b c d e",)], "text string").select(
        word_ngrams("text").alias("shingles")
    )
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "zip_with" in plan
    assert "transform(sequence" not in plan


def test_punct_ratio_kernel_stays_translate(spark):
    """Regression guard for the round-4 punct_ratio rewrite: character
    counting must plan as a translate() table lookup, not a
    regexp_replace over a negated character class (4x slower: the regex
    engine re-matches the class per char). normalize_text's \\s+
    collapse legitimately uses regexp_replace, so the guard keys on the
    char-class negation fingerprint rather than banning the function."""
    from airflow_etl_finance_market_spark.functions.text import punct_ratio

    df = spark.createDataFrame([("Hi, there!",)], "text string").select(
        punct_ratio("text").alias("p")
    )
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "translate(" in plan
    assert "[^" not in plan


def test_weighted_sample_single_exchange(spark, sf_dir):
    """A-ES weighted sampling = map-side race-key expression + ONE shuffle
    on the group with a per-group rank — same shape contract as the
    quota sampler."""
    plan = plan_of(harness.queries()["doc_weighted_sample"](spark, sf_dir))
    assert plan.count("Exchange") == 1
    assert "Window" in plan


def test_pair_correlation_gate_broadcasts(spark, sf_dir):
    """The top-N active-ticker gate must broadcast onto the daily-returns
    fact (the fact never shuffles for the gate); no cartesian anywhere —
    the pair fan-out rides the day-keyed equi-join."""
    plan = plan_of(harness.queries()["ticker_pair_correlation"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_gopher_flags_shuffle_free_single_scan(spark, sf_dir):
    """The Gopher rule bundle is one map-only projection: no Exchange, no
    generate/explode — a pure scan at any corpus size."""
    plan = plan_of(harness.queries()["gopher_quality_flags"](spark, sf_dir))
    assert "Exchange" not in plan
    assert "Generate" not in plan


def test_dsir_ratio_table_broadcasts_onto_occurrences(spark, sf_dir):
    """DSIR's bucket log-ratio table (<= n_buckets rows) must join back to
    the occurrence stream as a BroadcastHashJoin — a sort-merge there
    would shuffle the full exploded corpus a second time."""
    plan = plan_of(
        harness.queries()["dsir_importance_weights"](spark, sf_dir)
    )
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_kmv_rollup_is_join_free_array_arithmetic(spark, sf_dir):
    """kmv_rollup_estimates: merge, intersection, and every estimate are
    Catalyst ARRAY expressions over <= k-element sketches — the plan
    must contain NO join of any kind (a join back to events would mean
    the rollup rescans raw data, defeating the stored-sketch point)."""
    from airflow_etl_finance_market_spark.plans.analytics import (
        kmv_daily_user_sketches,
        kmv_rollup_estimates,
    )

    ev = load_fixture(spark, sf_dir, "events")
    plan = plan_of(kmv_rollup_estimates(kmv_daily_user_sketches(ev)))
    for shape in ("Join", "CartesianProduct"):
        assert shape not in plan, shape


def test_html_extract_is_shuffle_free_codegen(spark, sf_dir):
    """html_to_text is ONE pure-Catalyst string chain: the extraction
    gate's plan must contain NO exchange beyond the fixture fan-out and
    NO Python stage — a UDF here would put every crawl byte through
    the Python boundary at 100 TB."""
    plan = plan_of(harness.queries()["html_text_extract"](spark, sf_dir))
    assert "MapInPandas" not in plan and "BatchEvalPython" not in plan
    # exactly the fan_out repartition, nothing data-dependent
    assert plan.count("Exchange") == 1


def test_paragraph_dedup_single_window_single_agg(spark, sf_dir):
    """paragraph_dedup: one generate, one hash-keyed window (winner
    selection), one id-keyed aggregate (reassembly) — and the window
    key must be the 60-bit hash, never the full paragraph text (the
    shuffle-key-width contract for 100 TB)."""
    plan = plan_of(harness.queries()["doc_paragraph_dedup"](spark, sf_dir))
    assert "Generate" in plan and "Window" in plan
    assert "Join" not in plan and "CartesianProduct" not in plan
    assert "hashpartitioning(h#" in plan  # window shuffles on the hash


def test_token_budget_boundary_sort_confined_to_one_bucket(spark, sf_dir):
    """token_budget_select's scale contract: the corpus-wide path is
    filter + union (NO global sort); exactly ONE single-partition
    Window runs, and only over the threshold bucket's slice — the
    whole point of the bucketed design vs the naive running-sum."""
    from airflow_etl_finance_market_spark.operators.corpus import (
        token_budget_select,
    )

    docs = load_fixture(spark, sf_dir, "documents").select(
        "doc_id",
        (F.col("doc_id") % 97).cast("double").alias("score"),
        (F.lit(10) + F.col("doc_id") % 23).alias("n_tokens"),
    )
    plan = plan_of(token_budget_select(docs, budget=1000, n_buckets=16))
    assert plan.count("Window") == 1
    # the wholesale side is a pushed filter over the bucket expression,
    # never a sort: the ONLY Sort in the plan is the window's own
    assert plan.count("Sort ") <= 1
    assert "CartesianProduct" not in plan


def test_pagerank_round_is_single_join_plus_aggregate(spark, sf_dir):
    """Optimization r16: pagerank's per-round shape is ONE scores⋈edges
    join feeding a zero-seeded aggregate — the old per-round deg join
    and nodes LEFT-OUTER (+COALESCE) must not come back. The out-degree
    rides the checkpointed edge frame instead."""
    from airflow_etl_finance_market_spark.harness_markets import (
        _PAGERANK_ROUNDS,
    )

    plan = plan_of(harness.queries()["part_supplier_pagerank"](spark, sf_dir))
    assert "LeftOuter" not in plan          # per-round left join gone
    assert "CartesianProduct" not in plan
    nodes = re.findall(r"^[\s:+-]*(\w+)", plan, re.M)
    joins = [n for n in nodes if n.endswith("Join")]
    assert len(joins) == _PAGERANK_ROUNDS, joins  # one join per round
