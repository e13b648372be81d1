"""Streaming-dedup + late-pipeline gate tier: domain blocklist,
KMV/histogram rollups, corpus-prep pipeline, file roundtrips, token
budget selection, Unicode-fold dedup, cross-frame decontamination,
and the streaming pct-change gates.

``harness.py`` imports the tier modules in sequence; its note
on that import states what registration order does and does not
decide (the 50-slot window is pinned by tests/test_harness_window.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .harness import (  # noqa: F401  (shared gate surface)
    _bounded_stream_shuffle,
    _next_stream_seq,
    fan_out,
    load_fixture,
    register,
)
from .harness_corpus import (  # noqa: F401
    _GRAMS_SQL,
    _TOKS_SQL,
)


@register(
    "domain_blocklist_filter",
    """
WITH sel AS (
    SELECT doc_id, ((doc_id - 3) // 7) % 4 AS cat
    FROM documents WHERE doc_id % 7 = 3
)
SELECT doc_id,
       CASE WHEN cat = 0 THEN 'ok' || doc_id || '.com'
            ELSE 'nottracker' || doc_id || '.net' END AS host
FROM sel WHERE cat IN (0, 3)
""",
)
def q_domain_blocklist_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-blocklist URL hygiene HARD GATE
    (operators/corpus.domain_blocklist_filter) — the third leg of the
    r11 provenance tier (canonicalize → url-dedup → blocklist): every
    7th document gets a host by category (k = (doc_id-3)//7, cat=k%4):
    cat 0 `ok{id}.com` (clean), cat 1 `bad{id}.com` (blocked EXACTLY),
    cat 2 `ads.tracker{id}.net` (blocked via the PARENT-DOMAIN entry
    `tracker{id}.net` — the suffix-walk the operator exists for),
    cat 3 `nottracker{id}.net` (its blocklist sibling `tracker{id}.net`
    is present but must NOT match — label-boundary semantics; a
    substring matcher fails exactly here). The blocklist itself is
    derived from the same id arithmetic, so the oracle PREDICTS the
    survivor rows (ids and hosts) from the construction alone — over-
    blocking (cat 0/3 missing) and under-blocking (cat 1/2 present)
    both break the hash. Host extraction is map-side codegen; the
    suffix explode carries (host, suffix) rows only; the blocklist
    broadcasts."""
    sel = load_fixture(spark, sf_dir, "documents").filter(
        F.col("doc_id") % 7 == 3
    )
    cat = (((F.col("doc_id") - 3) / 7).cast("long") % 4).alias("cat")
    i = F.col("doc_id").cast("string")
    url = (
        F.when(F.col("cat") == 0,
               F.concat(F.lit("https://ok"), i, F.lit(".com/x")))
        .when(F.col("cat") == 1,
              F.concat(F.lit("https://bad"), i, F.lit(".com/x")))
        .when(F.col("cat") == 2,
              F.concat(F.lit("https://ads.tracker"), i, F.lit(".net/x")))
        .otherwise(
            F.concat(F.lit("https://nottracker"), i, F.lit(".net/x")))
    )
    pages = fan_out(
        sel.select("doc_id", cat), "doc_id"
    ).withColumn("url", url)
    blocklist = pages.select(
        F.when(
            F.col("cat") == 1,
            F.concat(F.lit("bad"), i, F.lit(".com")),
        )
        .when(
            F.col("cat").isin(2, 3),
            F.concat(F.lit("tracker"), i, F.lit(".net")),
        )
        .alias("domain")
    ).filter(F.col("domain").isNotNull())
    from .operators.corpus import domain_blocklist_filter

    return domain_blocklist_filter(pages, blocklist).select(
        "doc_id", "host"
    )


@register(
    "weekly_user_kmv_rollup",
    """
WITH h AS (
    SELECT DISTINCT CAST(ts AS DATE) AS d,
           CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))
                AS BIGINT) AS h
    FROM events
), daily AS (
    SELECT d, list_sort(list(h)) AS kmv FROM (
        SELECT d, h, ROW_NUMBER() OVER (PARTITION BY d ORDER BY h) AS rn
        FROM h
    ) WHERE rn <= 64 GROUP BY d
), wkh AS (
    SELECT DISTINCT CAST(date_trunc('week', d) AS DATE) AS week, u.h
    FROM daily, unnest(kmv) AS u(h)
), wk AS (
    SELECT week, list_sort(list(h)) AS kmv FROM (
        SELECT week, h,
               ROW_NUMBER() OVER (PARTITION BY week ORDER BY h) AS rn
        FROM wkh
    ) WHERE rn <= 64 GROUP BY week
), paired AS (
    SELECT week, kmv, LAG(kmv) OVER (ORDER BY week) AS prev FROM wk
), combined AS (
    SELECT week, kmv, prev,
           CASE WHEN prev IS NOT NULL THEN
               list_sort(list_distinct(list_concat(kmv, prev)))[1:64]
           END AS comb
    FROM paired
)
SELECT week,
       len(kmv) AS kmv_size,
       ROUND(CASE WHEN len(kmv) < 64 THEN CAST(len(kmv) AS DOUBLE)
                  ELSE (63.0 * 1152921504606846976.0)
                       / CAST(kmv[64] AS DOUBLE) END, 4) AS est_users,
       ROUND(len(list_intersect(comb, list_intersect(kmv, prev)))
             / len(comb), 6) AS prev_jaccard_est,
       ROUND((len(list_intersect(comb, list_intersect(kmv, prev)))
              / len(comb))
             * CASE WHEN len(comb) < 64 THEN CAST(len(comb) AS DOUBLE)
                    ELSE (63.0 * 1152921504606846976.0)
                         / CAST(comb[64] AS DOUBLE) END, 4)
           AS prev_common_users_est
FROM combined
""",
)
def q_weekly_user_kmv_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV (bottom-k theta) distinct sketch rollup with SET OPERATIONS
    (plans/analytics.kmv_daily_user_sketches ∘ kmv_rollup_estimates) —
    the third stored-sketch family member: HLL answers distinct,
    histograms answer quantiles, KMV answers INTERSECTIONS. Daily
    bottom-64 sketches of the portable 60-bit md5 user hash store once;
    weekly merges read the distinct-user estimate AND the
    Jaccard/common-users estimates vs the previous week (retained
    audience) off <= 64-element arrays — never rescanning events. Every
    estimate is exact-integer inputs + one double division, so the
    oracle mirrors it to the bit."""
    from .plans.analytics import kmv_daily_user_sketches, kmv_rollup_estimates

    daily = kmv_daily_user_sketches(load_fixture(spark, sf_dir, "events"))
    return kmv_rollup_estimates(daily)


@register(
    "streaming_dedup_ingest",
    """
SELECT user_id,
       COUNT(*) AS n_events,
       ROUND(SUM(value), 6) AS sum_value
FROM events
GROUP BY user_id
""",
)
def q_streaming_dedup_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming dedup-on-ingest HARD GATE: at-least-once delivery is
    simulated by planting a FULL-ROW duplicate of every 7th event into
    3 ts-ranged file micro-batches, then ``dedup_events`` (streaming
    branch: watermark + dropDuplicatesWithinWatermark — per-key state
    EVICTED at the watermark horizon, the property that lets ingest
    dedup run unbounded at 100 TB where a plain dropDuplicates would
    OOM on all-time key state) replays them as a REAL availableNow
    streaming query. The returned frame is per-user count + value sums
    over the DEDUPED stream, and the oracle aggregates the events table
    DIRECTLY — equality means every planted duplicate was dropped (a
    missed one inflates a count/sum) and no original was over-dropped
    (deflates). Cross-batch correctness rides the same gate: duplicates
    share their original's timestamp, so batch boundaries sit between
    duplicate groups only by ts-range construction."""
    import os
    import shutil
    import tempfile

    from .streaming import dedup_events, read_events_stream, run_available_now
    from .streaming.io import EVENTS_STREAM_SCHEMA

    seq = _next_stream_seq()

    tmp = tempfile.mkdtemp(prefix="finmarket_dedup_gate_")
    try:
        raw = spark.read.schema(EVENTS_STREAM_SCHEMA).parquet(
            f"{sf_dir}/events.parquet"
        )
        planted = raw.unionAll(raw.filter(F.col("event_id") % 7 == 0))
        lo, hi = planted.selectExpr("min(ts)", "max(ts)").first()
        span = (hi - lo) // 3 + 1
        for i in range(3):
            pdir = f"{tmp}/in/b{i}"
            planted.filter(
                (planted.ts >= lo + i * span)
                & (planted.ts < lo + (i + 1) * span)
            ).coalesce(1).write.mode("overwrite").parquet(pdir)
            for f in os.listdir(pdir):
                if f.endswith(".parquet"):
                    os.utime(f"{pdir}/{f}", (1_700_000_000 + i,) * 2)
        with _bounded_stream_shuffle(spark):
            deduped = run_available_now(
                dedup_events(
                    read_events_stream(
                        spark, f"{tmp}/in/b*", max_files_per_trigger=1
                    )
                ),
                f"_gate_dedup_{seq}",
                output_mode="append",
            )
            out = (
                deduped.groupBy("user_id")
                .agg(
                    F.count(F.lit(1)).alias("n_events"),
                    F.round(F.sum("value"), 6).alias("sum_value"),
                )
                .localCheckpoint()  # materialize before tmp cleanup
            )
        return out
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@register(
    "cross_doc_ngram_overlap",
    f"""
WITH occ AS (
    SELECT doc_id, g.gram
    FROM documents,
         unnest(list_distinct(list_transform(
             generate_series(1, greatest(len({_TOKS_SQL}) - 4, 1)),
             i -> array_to_string(({_TOKS_SQL})[i:i+4], ' ')))) AS g(gram)
), dfreq AS (
    SELECT gram, COUNT(*) AS df FROM occ GROUP BY gram
)
SELECT o.doc_id,
       COUNT(*) AS n_grams,
       CAST(SUM(CASE WHEN d.df > 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_shared,
       ROUND(SUM(CASE WHEN d.df > 1 THEN 1 ELSE 0 END) / COUNT(*), 6)
           AS shared_frac
FROM occ o JOIN dfreq d USING (gram)
GROUP BY o.doc_id
""",
)
def q_cross_doc_ngram_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document corpus-internal duplication score: fraction of the
    doc's distinct 5-grams appearing in >= 1 other document
    (operators/corpus.cross_doc_ngram_overlap) — the Dolma/RefinedWeb
    boilerplate signal, pair-free (explode + two keyed aggregates)."""
    from .operators.corpus import cross_doc_ngram_overlap

    return cross_doc_ngram_overlap(
        load_fixture(spark, sf_dir, "documents")
    )


@register(
    "corpus_prep_pipeline",
    """
WITH base AS (
    SELECT doc_id, lang, text, text AS _raw,
           string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS _toks,
           string_split(text, chr(10)) AS _lines
    FROM documents
), flags AS (
    SELECT doc_id,
           (len(_toks) >= 50 AND len(_toks) <= 100000
            AND list_sum(list_transform(_toks, w -> length(w))) >= 3 * len(_toks)
            AND list_sum(list_transform(_toks, w -> length(w))) <= 10 * len(_toks)
            AND ((length(_raw) - length(replace(_raw, '#', '')))
                 + (length(_raw) - length(replace(_raw, '...', ''))) / 3) * 10
                <= greatest(len(_toks), 1)
            AND len(list_filter(_lines, l -> starts_with(l, '•') OR starts_with(l, '- '))) * 10
                < greatest(len(_lines), 1) * 9
            AND len(list_filter(_lines, l -> ends_with(l, '...'))) * 10
                < greatest(len(_lines), 1) * 3
            AND len(list_filter(_toks, w -> regexp_matches(w, '[a-z]'))) * 10
                >= greatest(len(_toks), 1) * 8
            AND len(list_filter(_toks, w -> w IN
                ('the','be','to','of','and','that','have','with'))) >= 2
           ) AS keep
    FROM base
), kept AS (
    SELECT b.doc_id, b.lang, b.text, b._toks
    FROM base b JOIN flags f ON b.doc_id = f.doc_id AND f.keep
), dedup AS (
    SELECT k.* FROM kept k JOIN (
        SELECT MIN(doc_id) AS keep_id
        FROM kept
        GROUP BY md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))
    ) s ON k.doc_id = s.keep_id
), counts AS (
    SELECT lang, COUNT(*) AS cnt FROM dedup GROUP BY lang
), m AS (
    SELECT MIN(cnt) AS mn FROM counts
), thr AS (
    SELECT lang, CAST(GREATEST(1, (mn * 10000) // cnt) AS BIGINT) AS t
    FROM counts, m
), balanced AS (
    SELECT d.* FROM dedup d JOIN thr USING (lang)
    WHERE CAST(('0x' || substr(md5('rebalance42:' || CAST(d.doc_id AS VARCHAR)), 1, 8))
               AS BIGINT) % 10000 < thr.t
), assigned AS (
    SELECT lang, _toks,
           CASE WHEN b < 80 THEN 'train'
                WHEN b < 90 THEN 'valid'
                ELSE 'test' END AS split
    FROM (
        SELECT lang, _toks,
               CAST(('0x' || substr(md5('split42:' || CAST(doc_id AS VARCHAR)), 1, 8))
                    AS BIGINT) % 100 AS b
        FROM balanced
    )
)
SELECT lang, split,
       COUNT(*) AS n_docs,
       CAST(SUM(len(_toks)) AS BIGINT) AS total_words
FROM assigned
GROUP BY lang, split
""",
)
def q_corpus_prep_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The END-TO-END training-data prep chain as ONE driver-verified
    surface (the composition precedent of weekly_activity_panel,
    applied to the corpus tier): Gopher quality gate → exact dedup
    (min-id survivor per normalized-text fingerprint) → language
    rebalance (corpus-derived integer keep thresholds) → deterministic
    train/valid/test split → the resulting DATA CARD (docs + whitespace
    tokens per (lang, split)). Every stage is an already-oracle-checked
    operator; the composed oracle re-derives the WHOLE funnel —
    including the rebalance thresholds, which here come from the
    POST-filter POST-dedup corpus, not the raw table — so a drift in
    any stage (or in how stages hand off) flips the hash. Stages use
    DISTINCT hash seeds ('rebalance42:', 'split42:'): composing two
    salted-hash stages with the SAME seed correlates them (a rebalance
    threshold below 80% of the bucket space would otherwise push every
    surviving document into 'train'). Scale shape: the corpus flows
    map-side through flags → one fp aggregate + semi-join → broadcast
    thresholds → projection split → one final aggregate; nothing
    pairwise, one doc-keyed shuffle for the dedup."""
    from .functions.text import token_count
    from .operators.corpus import gopher_quality_flags
    from .operators.dedup import dedup_exact
    from .operators.sampling import assign_split, rebalance_sample

    docs = load_fixture(spark, sf_dir, "documents")
    kept = docs.join(
        gopher_quality_flags(docs).filter("keep").select("doc_id"),
        "doc_id",
        "left_semi",
    )
    deduped = dedup_exact(kept)
    balanced = rebalance_sample(
        deduped, strata_col="lang", id_col="doc_id", seed="rebalance42"
    )
    assigned = assign_split(balanced, "doc_id", seed="split42")
    return assigned.groupBy("lang", "split").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(token_count("text")).alias("total_words"),
    )


@register(
    "file_roundtrip_ingest",
    """
SELECT 'jsonl' AS fmt, lang, source,
       COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       CAST(SUM(length(text)) AS BIGINT) AS total_text_len
FROM documents
GROUP BY lang, source
UNION ALL
SELECT 'orc' AS fmt, lang, source,
       COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       CAST(SUM(length(text)) AS BIGINT) AS total_text_len
FROM documents
GROUP BY lang, source
""",
)
def q_file_roundtrip_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interchange-format roundtrip through BOTH sinks in ONE gate —
    the r10 verdict's registry-headroom merge of
    ``orc_roundtrip_ingest`` (r07) + ``jsonl_roundtrip_ingest`` (r08);
    every assertion of both retired gates survives as one format row
    set here, now with the stronger of the two aggregates (the JSONL
    gate's ``total_text_len``) applied to BOTH formats.

    Format 'orc' (sources/readers.read_orc/write_orc): the documents
    table is written to a lang-PARTITIONED ORC layout (the Hive/Trino
    estate format) and read back; stripe splits parallelize the
    re-read the way parquet row groups do. Format 'jsonl'
    (read_jsonl_corpus/write_jsonl_corpus, schema-first FAILFAST): the
    wire format text corpora actually ship in (The Pile / Dolma / CC
    derivatives); newline-split files parallelize the re-read without
    fan_out. The oracle aggregates the parquet source directly, so
    equality proves each sink+source pair preserves rows, types, the
    partition column, AND the text payload byte length end-to-end (a
    lost escape or mangled unicode shifts total_text_len)."""
    import shutil
    import tempfile

    from .sources.readers import (
        read_jsonl_corpus,
        read_orc,
        write_jsonl_corpus,
        write_orc,
    )

    docs = load_fixture(spark, sf_dir, "documents")
    tmp = tempfile.mkdtemp(prefix="finmarket_fmt_rt_")

    def _agg(back: DataFrame, fmt: str) -> DataFrame:
        return (
            back.groupBy("lang", "source")
            .agg(
                F.count(F.lit(1)).alias("n_docs"),
                F.sum("n_chars").alias("total_chars"),
                F.sum(F.length("text")).alias("total_text_len"),
            )
            .select(F.lit(fmt).alias("fmt"), "*")
        )

    try:
        write_orc(docs, f"{tmp}/documents_orc", partition_by=("lang",))
        write_jsonl_corpus(docs, f"{tmp}/documents_jsonl")
        out = _agg(read_orc(spark, f"{tmp}/documents_orc"), "orc").unionByName(
            _agg(
                read_jsonl_corpus(
                    spark, f"{tmp}/documents_jsonl", docs.schema
                ),
                "jsonl",
            )
        )
        return out.localCheckpoint()  # materialize before tmp cleanup
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@register(
    "term_heavy_hitters",
    f"""
SELECT term, n FROM (
    SELECT u.term AS term, COUNT(*) AS n
    FROM documents, unnest({_TOKS_SQL}) AS u(term)
    WHERE length(u.term) >= 1
    GROUP BY u.term
) ORDER BY n DESC, term ASC LIMIT 20
""",
)
def q_term_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-pass heavy hitters (operators/sketches.heavy_hitters): pass 1
    runs bounded-memory Misra-Gries summaries per partition (map-only
    Arrow, NO shuffle of the occurrence stream), whose union contains
    every term with count > N/capacity by the averaging argument; pass 2
    exact-counts ONLY the candidate set behind a broadcast semi-join.
    The oracle is the plain exact top-20 — equality proves the sketch
    pass lost nothing. capacity=4096 >> fixture vocab, so the guarantee
    holds with margin; the adversarial bound is pinned in pytest."""
    from .operators.sketches import heavy_hitters

    return heavy_hitters(
        load_fixture(spark, sf_dir, "documents"), k=20, capacity=4096
    )


@register(
    "weekly_value_quantile_rollup",
    """
WITH binned AS (
    SELECT CAST(date_trunc('week', CAST(ts AS DATE)) AS DATE) AS week,
           LEAST(255, GREATEST(0, CAST(FLOOR(value / 4.0) AS INT))) AS b,
           COUNT(*) AS c
    FROM events WHERE value IS NOT NULL GROUP BY 1, 2
), cum AS (
    SELECT week, b, c,
           SUM(c) OVER (PARTITION BY week ORDER BY b) AS cumc,
           SUM(c) OVER (PARTITION BY week) AS n
    FROM binned
)
SELECT week,
       CAST(MAX(n) AS BIGINT) AS n_values,
       MIN(CASE WHEN cumc >= FLOOR((50 * n + 99) / 100.0)
                THEN b * 4.0 END) AS p50_est,
       MIN(CASE WHEN cumc >= FLOOR((95 * n + 99) / 100.0)
                THEN b * 4.0 END) AS p95_est
FROM cum GROUP BY week
""",
)
def q_weekly_value_quantile_rollup(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Mergeable-histogram quantile rollup (plans/analytics.py
    value_histogram_daily_sketches ∘ histogram_rollup_quantiles): the
    order-statistics sibling of the HLL rollup — exact quantiles do not
    pre-aggregate, fixed-bin counts DO, so weekly p50/p95 estimates read
    off merged <=256-row daily histograms instead of rescanning raw
    events (one-bin-width error bound, pinned vs exact percentiles in
    pytest). Bin and rank arithmetic are engine-exact (power-of-two bin
    width; integer-derived ceil ranks), so the oracle mirrors the
    estimates to the bit."""
    from .plans.analytics import (
        histogram_rollup_quantiles,
        value_histogram_daily_sketches,
    )

    daily = value_histogram_daily_sketches(
        load_fixture(spark, sf_dir, "events")
    )
    return histogram_rollup_quantiles(daily)


@register(
    "token_budget_corpus_select",
    """
WITH scored AS (
    SELECT doc_id,
           CASE WHEN doc_id % 11 = 3 THEN NULL
                ELSE CAST(doc_id % 7 AS DOUBLE) END AS score,
           10 + doc_id % 23 AS n_tokens
    FROM documents
), ranked AS (
    SELECT doc_id,
           SUM(n_tokens) OVER (
               ORDER BY score DESC NULLS LAST, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS cum
    FROM scored
), mid AS (
    SELECT CAST(SUM(n_tokens) * 2 / 5 AS BIGINT) + 7 AS b FROM scored
)
SELECT 'mid' AS variant, doc_id FROM ranked WHERE cum <= (SELECT b FROM mid)
UNION ALL
SELECT 'all' AS variant, doc_id FROM ranked
""",
)
def q_token_budget_corpus_select(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TOKEN-BUDGET corpus selection HARD GATE
    (operators/corpus.token_budget_select) — the step every published
    data-mixing recipe ends with once quality scores exist ("take the
    best docs until N tokens"), the last corpus operator whose
    correctness rested only on a pytest differential (r11 verdict #2).
    Scores and token counts are planted from doc_id arithmetic: score
    = doc_id % 7 (large tie groups, so bucket boundaries MUST respect
    ties and the boundary cut MUST tie-break on id), score = NULL on
    every doc_id % 11 = 3 (the r11 ADVICE case: NULLs must sort LAST,
    not first), n_tokens = 10 + doc_id % 23. Three budgets run through
    the ONE operator: 0 (selects nothing), a mid budget at 40% of
    total + 7 (derived by the same arithmetic on both sides — lands
    INSIDE a tie group, forcing the id-tiebreak boundary cut), and
    over-total (selects everything, short-circuit path). Output is the
    full per-doc membership (variant, doc_id), so the driver hash pins
    the EXACT selected set of each variant — any greedy-order drift
    (tie handling, NULL placement, boundary doc inclusion) flips it.
    The oracle is the naive corpus-wide running-sum window — exactly
    the single-partition plan the operator's bucketed design avoids;
    auto-sized n_buckets (max_bucket_rows=500 here) keeps the
    engine-side boundary sort a bounded task at any corpus size."""
    from .operators.corpus import token_budget_select

    docs = load_fixture(spark, sf_dir, "documents").select("doc_id")
    scored = fan_out(docs, "doc_id").select(
        "doc_id",
        F.when(F.col("doc_id") % 11 == 3, F.lit(None).cast("double"))
        .otherwise((F.col("doc_id") % 7).cast("double"))
        .alias("score"),
        (F.lit(10) + F.col("doc_id") % 23).alias("n_tokens"),
    )
    total = scored.agg(F.sum("n_tokens")).first()[0]
    budgets = [("mid", int(total) * 2 // 5 + 7), ("all", int(total) + 1)]
    picked = None
    for label, b in [("zero", 0)] + budgets:
        sel = token_budget_select(
            scored, budget=b, max_bucket_rows=500
        ).select(F.lit(label).alias("variant"), "doc_id")
        picked = sel if picked is None else picked.unionAll(sel)
    return picked


@register(
    "doc_duplicate_span_removal",
    """
WITH pages AS (
    SELECT doc_id,
           'subscribe to the newsletter for updates every single week '
           || text
           || ' copyright twenty four all rights reserved worldwide forever'
               AS page
    FROM documents WHERE doc_id % 9 = 3
), t AS (
    SELECT doc_id,
           string_split(
               trim(regexp_replace(lower(page), '\\s+', ' ', 'g')), ' '
           ) AS toks
    FROM pages
), s AS (
    SELECT doc_id, len(toks) AS n, u.p AS p,
           array_to_string(toks[u.p:u.p + 7], ' ') AS span,
           least(u.p + 7, len(toks)) AS e
    FROM t, UNNEST(generate_series(1, greatest(len(toks) - 7, 1))) AS u(p)
), d AS (
    SELECT span FROM s GROUP BY span HAVING COUNT(DISTINCT doc_id) >= 2
), o AS (
    SELECT s.doc_id, s.p, s.e,
           ROW_NUMBER() OVER (
               PARTITION BY s.span ORDER BY s.doc_id, s.p
           ) = 1 AS is_surv
    FROM s JOIN d USING (span)
), cov AS (
    SELECT doc_id, u.t AS t,
           bool_or(is_surv) AS sv, bool_or(NOT is_surv) AS nsv
    FROM o, UNNEST(generate_series(o.p, o.e)) AS u(t)
    GROUP BY doc_id, u.t
), rem AS (
    SELECT doc_id, t FROM cov WHERE nsv AND NOT sv
), tok AS (
    SELECT doc_id, u.t AS t, toks[u.t] AS tok
    FROM t, UNNEST(generate_series(1, len(toks))) AS u(t)
)
SELECT tok.doc_id,
       coalesce(string_agg(
           CASE WHEN rem.t IS NULL THEN tok.tok END, ' ' ORDER BY tok.t
       ), '') AS text,
       COUNT(CASE WHEN rem.t IS NULL THEN 1 END) AS n_tokens_kept,
       COUNT(rem.t) AS n_tokens_removed
FROM tok LEFT JOIN rem USING (doc_id, t)
GROUP BY tok.doc_id
""",
)
def q_doc_duplicate_span_removal(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Duplicate-span REMOVAL gate (operators/dedup.duplicate_span_removal
    — the r12 verdict's What's-missing #1): `duplicate_span_stats` only
    REPORTS the Lee-et-al. exact-substring signal; the published
    pipeline's point is cutting the duplicated stretch out of every copy
    but one while keeping the document. Every 9th-plus-3 document becomes
    a synthetic page — a shared 9-token subscribe header, the document
    body, a shared 9-token copyright footer — and the operator must (a)
    keep the globally FIRST page fully intact (its header/footer
    occurrences are the survivors), (b) cut exactly the boilerplate
    stretch from every later page, (c) also cut cross-doc BODY spans
    where the fixture's planted exact-duplicate texts collide (real
    collisions, not just the banners), and (d) empty — but not drop —
    any page whose every token is non-surviving boilerplate. The oracle
    replays the whole contract independently (tokenize / slide / rank /
    cover / subtract / reassemble in SQL), so a wrong survivor, an
    off-by-one in span coverage, a dropped empty document, or survivor
    protection failing under overlap all hash-mismatch. Plan: the span
    stream shuffles ONCE on the md5 hash (three windows share the
    exchange), coverage explodes only duplicated occurrences, and
    reassembly is one id-keyed join + array filter — the Lee recipe at
    100 TB without a suffix array."""
    from .operators.dedup import duplicate_span_removal

    pages = fan_out(
        load_fixture(spark, sf_dir, "documents").filter(
            F.col("doc_id") % 9 == 3
        ),
        "doc_id",
    ).select(
        "doc_id",
        F.concat_ws(
            " ",
            F.lit("subscribe to the newsletter for updates every single week"),
            F.col("text"),
            F.lit(
                "copyright twenty four all rights reserved worldwide forever"
            ),
        ).alias("text"),
    )
    return duplicate_span_removal(pages, span_tokens=8, min_docs=2)


@register(
    "streaming_pct_change_multi",
    """
WITH b AS (
    SELECT epoch_us(min(ts)) AS lo_us, epoch_us(max(ts)) AS hi_us FROM events
), p AS (
    SELECT hi_us,
           ((hi_us - lo_us) // 3 + 1) // 1000000 + 3600 AS delay_s
    FROM b
)
SELECT 'vol' AS variant,
       (SELECT COUNT(*) FROM events) AS n_rows,
       true AS pct_matches_batch, true AS aud_a, true AS aud_b
UNION ALL
SELECT 'reordered' AS variant,
       COUNT(*) AS n_rows,
       true AS pct_matches_batch, true AS aud_a,
       CAST(NULL AS BOOLEAN) AS aud_b
FROM events, p
WHERE epoch_us(ts) <= (p.hi_us // 1000) * 1000 - p.delay_s * 1000000
""",
)
def q_streaming_pct_change_multi(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """BOTH stateful-streaming pct-change flagships in ONE multi-variant
    gate — round-13 merge of `streaming_pct_change_vol` +
    `streaming_pct_change_reordered` (the registry headroom rule: growth
    paired with retirements; the dim_snapshots precedent). RETIREMENT
    RATIONALE: the two gates exercised the same
    stateful operator family (streaming/stateful.py — one
    applyInPandasWithState pct-change kernel, in in-order and
    reorder-buffer form) over the same 3-micro-batch file replay
    harness, always green together since r07; each retained audit is
    UNCHANGED (the retired builders run verbatim as this gate's variant
    rows — harness_events.q_streaming_pct_change_vol /
    q_streaming_pct_change_reordered), so a drift in either pipeline
    still flips the hash: variant 'vol' pins cross-batch state exactness
    (n_rows vs COUNT(*), streamed pct == batch LAG, windowed vol subset
    + values), variant 'reordered' pins the late-arrival buffer (the
    emitted set is exactly the watermark-finalized prefix despite every
    7th event arriving one batch late). Audit columns ride a common
    (variant, n_rows, pct_matches_batch, aud_a, aud_b) projection —
    aud_b is NULL for the 3-audit reordered variant. Their pytest
    coverage (test_streaming.py) is untouched."""
    from .harness_events import (
        q_streaming_pct_change_reordered,
        q_streaming_pct_change_vol,
    )

    vol = q_streaming_pct_change_vol(spark, sf_dir).select(
        F.lit("vol").alias("variant"),
        "n_rows",
        "pct_matches_batch",
        F.col("vol_windows_subset").alias("aud_a"),
        F.col("vol_values_match").alias("aud_b"),
    )
    reo = q_streaming_pct_change_reordered(spark, sf_dir).select(
        F.lit("reordered").alias("variant"),
        "n_rows",
        "pct_matches_batch",
        F.col("emitted_set_exact").alias("aud_a"),
        F.lit(None).cast("boolean").alias("aud_b"),
    )
    return vol.unionByName(reo)


@register(
    "unicode_fold_dedup",
    """
WITH g AS (
    SELECT doc_id,
           ((doc_id - 3) // 8) // 5 AS fam
    FROM documents WHERE doc_id % 8 = 3
)
SELECT fam,
       'café finance résumé no' || fam || ' ok' AS text,
       COUNT(*) AS n_in,
       MIN(doc_id) AS survivor_id
FROM g
GROUP BY fam
""",
)
def q_unicode_fold_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode-normalization HARD GATE (r14, r13 verdict What's-missing
    #1: operators/corpus.unicode_normalize_docs in front of the exact
    fingerprint tier). Every selected document QUINT (consecutive docs
    with doc_id % 8 = 3, grouped 5-by-5) carries five byte-DIFFERENT
    encodings of ONE text built JVM-side from doc_id arithmetic:
    (a) the clean NFC form, (b) the NFD form (combining acute accents
    U+0301 after bare letters), (c) a FULL-WIDTH variant (the word
    'finance' on the U+FF01 plane plus an ideographic space U+3000),
    (d) a ZERO-WIDTH injection (BOM prefix, ZWSP inside a word, a soft
    hyphen U+00AD inside another), (e) a LIGATURE variant (U+FB01 fi).
    None of the five shares raw-byte md5 with any other, so WITHOUT
    the normalization stage the exact tier sees five distinct
    fingerprints; WITH it every variant folds to the identical NFC
    byte string and the quint collapses to ONE survivor (the smallest
    doc_id) with n_in = 5. The gate runs the REAL operator chain —
    unicode_normalize_docs (ASCII-detector split + Arrow kernel; the
    kernel's pickle-by-value self-containment is exactly what the
    driver's bare workers exercise) feeding exact_dedup_stats'
    fingerprint group — and emits the FOLDED TEXT itself, so a drift
    in any fold rule (composition, compat plane, zw strip) breaks the
    text hash, and an over/under-merge breaks n_in/survivor_id. The
    oracle derives everything from the CONSTRUCTION (fam arithmetic +
    NFC string concat — the r10 independent-formulation rule; DuckDB
    never normalizes anything). Incomplete trailing families at small
    SF still match: the canonical text depends only on fam, so n_in =
    COUNT(*) and survivor = MIN(doc_id) hold for any member subset."""
    from .operators.corpus import unicode_normalize_docs
    from .operators.dedup import exact_dedup_stats

    sel = load_fixture(spark, sf_dir, "documents").filter(
        F.col("doc_id") % 8 == 3
    )
    k = ((F.col("doc_id") - 3) / 8).cast("long")
    fam = (k / 5).cast("long")
    variant = k % 5
    f = fam.cast("string")
    nfc = F.concat(
        F.lit("caf\u00e9 finance r\u00e9sum\u00e9 no"), f, F.lit(" ok")
    )
    nfd = F.concat(
        F.lit("cafe\u0301 finance re\u0301sume\u0301 no"), f, F.lit(" ok")
    )
    fullwidth = F.concat(
        F.lit(
            "caf\u00e9 \uff46\uff49\uff4e\uff41\uff4e\uff43\uff45"
            " r\u00e9sum\u00e9\u3000no"
        ),
        f,
        F.lit(" ok"),
    )
    zero_width = F.concat(
        F.lit(
            "\ufeffcaf\u00e9 fin\u200bance r\u00e9\u00adsum\u00e9 no"
        ),
        f,
        F.lit(" ok"),
    )
    ligature = F.concat(
        F.lit("caf\u00e9 \ufb01nance r\u00e9sum\u00e9 no"), f, F.lit(" ok")
    )
    pages = sel.select(
        "doc_id",
        F.when(variant == 0, nfc)
        .when(variant == 1, nfd)
        .when(variant == 2, fullwidth)
        .when(variant == 3, zero_width)
        .otherwise(ligature)
        .alias("text"),
    )
    folded = unicode_normalize_docs(fan_out(pages, "doc_id"))
    stats = exact_dedup_stats(folded)
    return stats.join(
        folded.select(F.col("doc_id").alias("keep_id"), "text"), "keep_id"
    ).select(
        (((F.col("keep_id") - 3) / 8) / 5).cast("long").alias("fam"),
        "text",
        F.col("n_copies").alias("n_in"),
        F.col("keep_id").alias("survivor_id"),
    )


def _decontam_oracle_sql(num_hashes: int, bands: int, threshold: float) -> str:
    """DuckDB twin of the FULL portable-mode cross-frame decontamination
    pipeline: planted corpus/benchmark construction -> per-side shingle
    hash -> per-side affine minhash signature -> per-side band keys ->
    CROSS-side band bucket join (never corpus-corpus) -> exact-Jaccard
    verify on the UNROUNDED value (the r14 ADVICE contract the operator
    pins). Generated from the same _minhash_params constants the Spark
    operator uses, so signatures match bit-for-bit — the
    _minhash_oracle_sql template (harness_corpus) with two sig/band CTE
    chains and the threshold cut in WHERE (QUALIFY needs a window fn)."""
    from .operators.dedup import _MERSENNE_P, _minhash_params

    p = _MERSENNE_P
    params = _minhash_params(num_hashes)
    rpb = num_hashes // bands

    def mins() -> str:
        return ",\n        ".join(
            f"MIN(({a} * h + {b}) % {p}) AS m{i}"
            for i, (a, b) in enumerate(params)
        )

    def band_rows(sig_cte: str, id_col: str) -> str:
        return "\n    UNION ALL\n    ".join(
            f"SELECT {id_col}, {b} AS band_idx, "
            + " || ',' || ".join(
                f"CAST(m{b * rpb + j} AS VARCHAR)" for j in range(rpb)
            )
            + f" AS band_key FROM {sig_cte}"
            for b in range(bands)
        )

    return f"""
WITH corpus AS MATERIALIZED (
    SELECT doc_id,
           CASE doc_id % 25
             WHEN 8 THEN 'eval item ' || (doc_id - 1) || ' alpha ' ||
                  (doc_id - 1) || ' beta ' || (doc_id - 1) || ' gamma ' ||
                  (doc_id - 1) || ' delta ' || (doc_id - 1) || ' epsilon ' ||
                  (doc_id - 1)
             WHEN 9 THEN 'eval item ' || (doc_id - 2) || ' alpha ' ||
                  (doc_id - 2) || ' beta ' || (doc_id - 2) || ' gamma ' ||
                  (doc_id - 2) || ' delta ' || (doc_id - 2) || ' omega ' ||
                  (doc_id - 2)
             WHEN 12 THEN 'eval item ' || (doc_id - 5) || ' alpha ' ||
                  (doc_id - 5) || ' one two three four five six'
             ELSE text END AS text
    FROM documents WHERE doc_id % 25 != 7
), bench AS MATERIALIZED (
    SELECT doc_id AS bench_id,
           'eval item ' || doc_id || ' alpha ' || doc_id || ' beta ' ||
           doc_id || ' gamma ' || doc_id || ' delta ' || doc_id ||
           ' epsilon ' || doc_id AS text
    FROM documents WHERE doc_id % 25 = 7
), gd AS MATERIALIZED (
    SELECT doc_id, {{grams}} AS grams FROM corpus
), gb AS MATERIALIZED (
    SELECT bench_id, {{grams}} AS grams FROM bench
), shd AS (
    SELECT DISTINCT doc_id,
           CAST(('0x' || substr(md5(u.g), 1, 15)) AS BIGINT) % {p} AS h
    FROM gd, unnest(grams) AS u(g)
), shb AS (
    SELECT DISTINCT bench_id,
           CAST(('0x' || substr(md5(u.g), 1, 15)) AS BIGINT) % {p} AS h
    FROM gb, unnest(grams) AS u(g)
), sigd AS MATERIALIZED (
    SELECT doc_id,
        {mins()}
    FROM shd GROUP BY doc_id
), sigb AS MATERIALIZED (
    SELECT bench_id,
        {mins()}
    FROM shb GROUP BY bench_id
), bandsd AS (
    {band_rows("sigd", "doc_id")}
), bandsb AS (
    {band_rows("sigb", "bench_id")}
), cand AS (
    SELECT DISTINCT d.doc_id, b.bench_id
    FROM bandsd d
    JOIN bandsb b ON d.band_idx = b.band_idx AND d.band_key = b.band_key
)
SELECT c.doc_id, c.bench_id,
       ROUND(len(list_intersect(gd.grams, gb.grams))::DOUBLE
             / (len(gd.grams) + len(gb.grams)
                - len(list_intersect(gd.grams, gb.grams))), 6) AS jaccard_sim
FROM cand c
JOIN gd ON gd.doc_id = c.doc_id
JOIN gb ON gb.bench_id = c.bench_id
WHERE len(list_intersect(gd.grams, gb.grams))::DOUBLE
      / (len(gd.grams) + len(gb.grams)
         - len(list_intersect(gd.grams, gb.grams))) >= {threshold}
"""


@register(
    "near_dup_decontamination",
    _decontam_oracle_sql(32, 8, 0.5).replace("{grams}", _GRAMS_SQL),
)
def q_near_dup_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-frame NEAR-dup decontamination HARD GATE
    (operators/dedup.near_dup_decontamination, portable hash mode) —
    the r14-built, r15 pre-committed gate: the GPT-3/PaLM pipeline
    stage above exact n-gram collision (doc_contamination_dual's
    tier) — training documents near-duplicating EVAL documents are
    flagged with their benchmark match and the exact word-3-gram
    Jaccard. Planted families from doc_id arithmetic (the natural
    %50 split was scratch-measured to yield ONE pair at sf0.01 — a
    1-row accident, not a recall pin): every 25th document seeds a
    BENCHMARK doc (doc_id % 25 = 7) whose text interleaves its own
    id between every tail word ('eval item k alpha k beta k ...'),
    so every trigram contains k and DISTINCT benchmark docs share
    ZERO shingles (no cross-family smearing); the corpus side
    (everything else, real text as background) plants (a) an EXACT
    copy at doc_id % 25 = 8 of bench doc_id-1 — identical gram set,
    so every band collides BY CONSTRUCTION and the pair is flagged
    at jaccard 1.0 deterministically; (b) a light PARAPHRASE at
    % 25 = 9 of bench doc_id-2 (one tail word swapped: 2 of 11
    trigrams move, J = 9/13 ~ 0.692 >= 0.5) — the case exact n-gram
    collision decontamination misses; (c) a NEAR-MISS at % 25 = 12
    of bench doc_id-5 (tail replaced wholesale, J = 3/17 ~ 0.176 <
    0.5) that must NOT be flagged even when a band happens to
    collide — pinning the exact-verify cut, on the UNROUNDED value
    per the r14 ADVICE fix. The oracle replays the ENTIRE pipeline
    (construction, per-side md5 shingle hashes, affine signatures,
    band keys, the CROSS-side-only bucket join, unrounded verify) so
    both engines agree on every candidate, flagged or killed; the
    within-corpus duplicates that real background text contains must
    never appear (no corpus-corpus pairs — the cross-frame
    contract)."""
    from .operators.dedup import near_dup_decontamination

    docs = load_fixture(spark, sf_dir, "documents")

    def bench_text(k):
        ks = k.cast("string")
        return F.concat(
            F.lit("eval item "), ks, F.lit(" alpha "), ks,
            F.lit(" beta "), ks, F.lit(" gamma "), ks,
            F.lit(" delta "), ks, F.lit(" epsilon "), ks,
        )

    def para_text(k):
        ks = k.cast("string")
        return F.concat(
            F.lit("eval item "), ks, F.lit(" alpha "), ks,
            F.lit(" beta "), ks, F.lit(" gamma "), ks,
            F.lit(" delta "), ks, F.lit(" omega "), ks,
        )

    def miss_text(k):
        ks = k.cast("string")
        return F.concat(
            F.lit("eval item "), ks, F.lit(" alpha "), ks,
            F.lit(" one two three four five six"),
        )

    v = F.col("doc_id") % 25
    corpus = docs.filter(v != 7).select(
        "doc_id",
        F.when(v == 8, bench_text(F.col("doc_id") - 1))
        .when(v == 9, para_text(F.col("doc_id") - 2))
        .when(v == 12, miss_text(F.col("doc_id") - 5))
        .otherwise(F.col("text"))
        .alias("text"),
    )
    bench = docs.filter(v == 7).select(
        F.col("doc_id").alias("bench_id"),
        bench_text(F.col("doc_id")).alias("text"),
    )
    return near_dup_decontamination(
        fan_out(corpus, "doc_id"),
        bench,
        num_hashes=32,
        bands=8,
        threshold=0.5,
        hash_mode="portable",
    )
