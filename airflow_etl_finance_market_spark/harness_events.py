"""Corpus gate tier II + event analytics: streaming pct-change
gates, retrieval (TF-IDF/BM25/PMI), funnels,
and sequence analytics.

``harness.py`` imports the tier modules in sequence; its note
on that import states what registration order does and does not
decide (the 50-slot window is pinned by tests/test_harness_window.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .harness import (  # noqa: F401  (shared gate surface)
    _ORACLES,
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


def q_streaming_pct_change_vol(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[RETIRED r13 into streaming_pct_change_multi — now that gate's
    'vol' variant builder; the audit pipeline is unchanged.]

    Stateful-streaming HARD GATE (§2.9): the chained streaming flagship
    — applyInPandasWithState pct-change → watermark → 7-day windowed
    stddev — executed as REAL streaming queries over 3 file micro-batches,
    then audited against the batch LAG twin. The oracle pins the audit
    row: every event yields exactly one pct row across
    micro-batches (n_rows vs COUNT(*) — cross-batch state loss would drop
    or duplicate), streamed pct values equal the batch LAG path row-for-row
    (1e-9), and append-mode windows are a value-matching subset of the
    batch windows (non-empty, i.e. the watermark finalized windows).

    Iterative micro-batch execution is not SQL-expressible; the gate makes
    the driver (not just pytest) cover the stateful streaming tier.
    """
    import os
    import shutil
    import tempfile

    from .streaming import (
        pct_change_stateful,
        read_events_batch,
        read_events_stream,
        run_available_now,
        windowed_volatility,
    )
    from .streaming.io import EVENTS_STREAM_SCHEMA

    seq = _next_stream_seq()

    tmp = tempfile.mkdtemp(prefix="finmarket_stream_gate_")
    try:
        # events split into 3 ts-ranged single-file parquet dirs: the file
        # source (maxFilesPerTrigger=1, mtime-ordered) replays them as 3
        # micro-batches with advancing watermark — state must carry across.
        raw = spark.read.schema(EVENTS_STREAM_SCHEMA).parquet(
            f"{sf_dir}/events.parquet"
        )
        lo, hi = raw.selectExpr("min(ts)", "max(ts)").first()
        span = (hi - lo) // 3 + 1
        for i in range(3):
            pdir = f"{tmp}/in/b{i}"
            raw.filter(
                (raw.ts >= lo + i * span) & (raw.ts < lo + (i + 1) * span)
            ).coalesce(1).write.mode("overwrite").parquet(pdir)
            for f in os.listdir(pdir):
                if f.endswith(".parquet"):
                    os.utime(f"{pdir}/{f}", (1_700_000_000 + i,) * 2)

        src = f"{tmp}/in/b*"
        with _bounded_stream_shuffle(spark):
            streamed_pct = run_available_now(
                pct_change_stateful(
                    read_events_stream(spark, src, max_files_per_trigger=1)
                ),
                f"_gate_pct_{seq}",
                output_mode="append",
            )
            streamed_vol = run_available_now(
                windowed_volatility(
                    pct_change_stateful(
                        read_events_stream(spark, src, max_files_per_trigger=1)
                    ).withWatermark("ts", "1 hour"),
                    key="user_id",
                    ts="ts",
                    window="7 days",
                ),
                f"_gate_vol_{seq}",
                output_mode="append",
            )

        batch_pct = pct_change_stateful(
            read_events_batch(spark, f"{sf_dir}/events.parquet")
        )
        batch_vol = windowed_volatility(
            batch_pct, key="user_id", ts="ts", window="7 days"
        )

        # ---- audit (distributed joins; only scalars reach the driver) ----
        n_stream = streamed_pct.count()
        n_batch = batch_pct.count()
        pct_join = streamed_pct.alias("s").join(
            batch_pct.alias("b"), ["user_id", "ts"], "full_outer"
        )
        pct_bad = pct_join.filter(
            F.col("s.value").isNull()
            | F.col("b.value").isNull()
            | (F.col("s.value") != F.col("b.value"))
            | (
                F.col("s.variacao_diaria").isNull()
                != F.col("b.variacao_diaria").isNull()
            )
            | (
                F.abs(
                    F.col("s.variacao_diaria") - F.col("b.variacao_diaria")
                )
                > 1e-9
            )
        ).count()

        n_vol = streamed_vol.count()
        # _b1 marks "batch row exists": b.vol itself is NULL for legitimate
        # one-sample windows (stddev_samp of 1 value), which is a match,
        # not a miss, when the streamed side is NULL too.
        vol_join = streamed_vol.alias("s").join(
            batch_vol.withColumn("_b1", F.lit(1)).alias("b"),
            ["user_id", "week_start"],
            "left_outer",
        )
        vol_missing = vol_join.filter(F.col("b._b1").isNull()).count()
        vol_bad = vol_join.filter(
            (F.col("s.vol").isNull() != F.col("b.vol").isNull())
            | (
                F.abs(F.col("s.vol") - F.col("b.vol"))
                > F.greatest(F.lit(1.0), F.abs(F.col("b.vol"))) * 1e-9
            )
        ).count()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    return spark.createDataFrame(
        [
            (
                n_stream,
                n_stream == n_batch and pct_bad == 0,
                n_vol > 0 and vol_missing == 0,
                vol_bad == 0,
            )
        ],
        "n_rows long, pct_matches_batch boolean, "
        "vol_windows_subset boolean, vol_values_match boolean",
    )




def q_streaming_pct_change_reordered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[RETIRED r13 into streaming_pct_change_multi — now that gate's
    'reordered' variant builder; the audit pipeline is unchanged.]

    Out-of-order streaming HARD GATE: the reorder-buffer pct-change
    (streaming/stateful.py pct_change_reordered) run as a REAL streaming
    query over 3 file micro-batches where every 7th event arrives one
    batch LATE (displaced, inside the watermark delay), then audited
    against the batch LAG twin.

    The oracle pins the audit row: the emitted set is EXACTLY the rows
    the final watermark finalized — ``ts <= ms-floor(max_ts) - delay``
    (Spark tracks watermarks in whole milliseconds, hence the ms floor;
    the delay replays the harness arithmetic: one micro-batch span plus
    an hour, in whole seconds) — and every emitted row's pct equals the
    batch LAG value (1e-9) despite the displaced arrival order. A buffer
    that dropped, duplicated, or mis-ordered late rows breaks n_rows or
    the join audit. Micro-batch execution is not SQL-expressible; the
    booleans ride distributed joins, only scalars reach the driver.
    """
    import os
    import shutil
    import tempfile

    from .streaming import (
        pct_change_reordered,
        read_events_batch,
        read_events_stream,
        run_available_now,
    )
    from .streaming.io import EVENTS_STREAM_SCHEMA

    seq = _next_stream_seq()

    tmp = tempfile.mkdtemp(prefix="finmarket_reorder_gate_")
    try:
        raw = spark.read.schema(EVENTS_STREAM_SCHEMA).parquet(
            f"{sf_dir}/events.parquet"
        )
        lo, hi = raw.selectExpr("min(ts)", "max(ts)").first()
        unit = 1 if hi < 10**17 else 1000  # micros per raw ts unit (io.py)
        lo_us, hi_us = lo // unit, hi // unit
        batch_us = (hi_us - lo_us) // 3 + 1
        delay_s = batch_us // 1_000_000 + 3600  # covers 1-batch displacement

        # 3 mtime-ordered files; every 7th event of batches 0-1 is written
        # into the NEXT batch's file instead (late arrival, no event lost).
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
                pct_change_reordered(
                    read_events_stream(
                        spark, f"{tmp}/in/b*", max_files_per_trigger=1
                    ),
                    delay=f"{delay_s} seconds",
                ),
                f"_gate_reorder_{seq}",
                output_mode="append",
            )

        # Batch LAG twin, cut at the final watermark (ms-floored max ts
        # minus delay — the exact set the stream must have finalized).
        wm_final_us = (hi_us // 1000) * 1000 - delay_s * 1_000_000
        expect = pct_change_reordered(
            read_events_batch(spark, f"{sf_dir}/events.parquet")
        ).filter(
            F.unix_micros(F.col("ts").cast("timestamp_ltz")) <= wm_final_us
        )

        n_stream = streamed.count()
        n_expect = expect.count()
        joined = streamed.alias("s").join(
            expect.alias("b"), ["user_id", "ts"], "full_outer"
        )
        bad = joined.filter(
            F.col("s.value").isNull()
            | F.col("b.value").isNull()
            | (F.col("s.value") != F.col("b.value"))
            | (
                F.col("s.variacao_diaria").isNull()
                != F.col("b.variacao_diaria").isNull()
            )
            | (
                F.abs(
                    F.col("s.variacao_diaria") - F.col("b.variacao_diaria")
                )
                > 1e-9
            )
        ).count()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    return spark.createDataFrame(
        [(n_stream, bad == 0, n_stream == n_expect and n_stream > 0)],
        "n_rows long, pct_matches_batch boolean, emitted_set_exact boolean",
    )


@register(
    "doc_tfidf_top_terms",
    f"""
WITH occ AS (
    SELECT doc_id, u.term
    FROM documents, unnest({_TOKS_SQL}) AS u(term)
    WHERE length(u.term) >= 1
), per_doc AS (
    SELECT doc_id, term, COUNT(*) AS n_in_doc
    FROM occ GROUP BY doc_id, term
), with_len AS (
    SELECT doc_id, term, n_in_doc,
           SUM(n_in_doc) OVER (PARTITION BY doc_id) AS doc_len
    FROM per_doc
), dfreq AS (
    SELECT term, COUNT(*) AS df FROM per_doc GROUP BY term
), scored AS (
    SELECT w.doc_id, w.term,
           ROUND(w.n_in_doc::DOUBLE / w.doc_len
                 * ln(((SELECT COUNT(*) FROM documents) + 1)::DOUBLE
                      / (d.df + 1)), 6) AS tfidf
    FROM with_len w JOIN dfreq d USING (term)
), ranked AS (
    SELECT doc_id, term, tfidf,
           ROW_NUMBER() OVER (
               PARTITION BY doc_id ORDER BY tfidf DESC, term ASC
           ) AS rank
    FROM scored
)
SELECT doc_id, term, tfidf, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= 3
""",
)
def q_doc_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-3 TF-IDF terms (keyword extraction / boilerplate
    contrast). One explode drives per-doc counts, doc length, and document
    frequency; the global N joins as a broadcast one-row frame."""
    from .operators.corpus import tfidf_top_terms

    return tfidf_top_terms(
        load_fixture(spark, sf_dir, "documents"), k=3
    ).withColumn("rank", F.col("rank").cast("int"))


@register(
    "doc_winnow_fingerprints",
    f"""
WITH g AS (
    SELECT doc_id,
           CAST(u.i AS BIGINT) - 1 AS pos,
           array_to_string(({_TOKS_SQL})[u.i:u.i+2], ' ') AS gram
    FROM documents,
         unnest(generate_series(1, greatest(len({_TOKS_SQL}) - 2, 1))) AS u(i)
), h AS (
    SELECT doc_id, pos,
           CAST(('0x' || substr(md5(gram), 1, 15)) AS BIGINT)
               % 2147483647 AS hv,
           COUNT(*) OVER (PARTITION BY doc_id) AS n_grams
    FROM g
), sel AS (
    SELECT doc_id, pos, n_grams,
           MIN(hv) OVER (
               PARTITION BY doc_id ORDER BY pos
               ROWS BETWEEN 3 PRECEDING AND CURRENT ROW
           ) AS fp
    FROM h
)
SELECT DISTINCT doc_id, fp
FROM sel WHERE pos >= 3 OR pos = n_grams - 1
""",
)
def q_doc_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing (rolling-hash) document fingerprints in portable hash
    mode — the containment/excerpt-detection primitive; the full pipeline
    (positional grams → hash → sliding min → distinct) is oracle-checked."""
    from .operators.dedup import winnow_fingerprints

    return winnow_fingerprints(
        load_fixture(spark, sf_dir, "documents"),
        ngram=3,
        window=4,
        hash_mode="portable",
    )


@register(
    "doc_stratified_sample",
    """
SELECT doc_id, lang
FROM documents
WHERE CAST(('0x' || substr(md5('seed42:' || CAST(doc_id AS VARCHAR)), 1, 8))
           AS BIGINT) % 10000
      < CASE lang
            WHEN 'en' THEN 2500
            WHEN 'zh' THEN 6000
            WHEN 'es' THEN 6000
            ELSE 1000
        END
""",
)
def q_doc_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling (rebalancing a skewed corpus):
    down-sample the majority language, up-weight minority ones. Membership
    is a pure salted-md5 function of doc_id, so the oracle reproduces the
    EXACT row set — the property sampleBy's RNG cannot give."""
    from .operators.sampling import stratified_sample

    docs = load_fixture(spark, sf_dir, "documents").select("doc_id", "lang")
    return stratified_sample(
        docs,
        key="doc_id",
        strata_col="lang",
        rates={"en": 0.25, "zh": 0.6, "es": 0.6},
        default_rate=0.1,
    )


@register(
    "reorder_within_30d",
    """
WITH b AS (
    SELECT o_orderkey, o_custkey,
           date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
               AS order_day
    FROM orders
)
SELECT a.o_orderkey,
       COUNT(p.o_orderkey) AS n_reorders_30d
FROM b a
LEFT JOIN b p
  ON p.o_custkey = a.o_custkey
 AND p.order_day >= a.order_day + 1
 AND p.order_day <= a.order_day + 30
GROUP BY a.o_orderkey
""",
)
def q_reorder_within_30d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join (operators/ranges.py): per order, how many follow-up
    orders the same customer placed in the next 30 days — the binned
    point-in-interval rewrite of a BETWEEN self-join that Catalyst would
    otherwise plan as a nested-loop. bin_size=32 ≈ interval width, so each
    interval replicates into ≤2 bins."""
    from .operators.ranges import range_join

    day = F.datediff(
        F.col("o_orderdate").cast("date"), F.lit("1970-01-01").cast("date")
    ).cast("long")
    base = load_fixture(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", day.alias("order_day")
    )
    points = base.select(
        F.col("o_custkey"),
        F.col("o_orderkey").alias("p_orderkey"),
        F.col("order_day").alias("p_day"),
    )
    intervals = base.select(
        "o_orderkey",
        "o_custkey",
        (F.col("order_day") + 1).alias("lo_day"),
        (F.col("order_day") + 30).alias("hi_day"),
    )
    matched = range_join(
        points,
        intervals,
        point_col="p_day",
        lo_col="lo_day",
        hi_col="hi_day",
        by="o_custkey",
        bin_size=32,
    )
    counts = matched.groupBy("o_orderkey").agg(
        F.count(F.lit(1)).alias("n_reorders_30d")
    )
    return (
        base.select("o_orderkey")
        .join(counts, "o_orderkey", "left")
        .select(
            "o_orderkey",
            F.coalesce("n_reorders_30d", F.lit(0)).alias("n_reorders_30d"),
        )
    )


@register(
    "doc_unigram_logprob",
    f"""
WITH occ AS (
    SELECT doc_id, u.term
    FROM documents, unnest({_TOKS_SQL}) AS u(term)
    WHERE length(u.term) >= 1
), vocab AS (
    SELECT term, COUNT(*) AS tf FROM occ GROUP BY term
), tot AS (
    SELECT SUM(tf) AS total FROM vocab
)
SELECT o.doc_id,
       COUNT(*) AS n_tokens,
       ROUND(AVG(ln(v.tf) - ln(t.total)), 6) AS avg_logprob
FROM occ o JOIN vocab v USING (term) CROSS JOIN tot t
GROUP BY o.doc_id
""",
)
def q_doc_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perplexity-proxy quality score: mean token log-probability under
    the corpus's own unigram LM (operators/corpus.unigram_logprob)."""
    from .operators.corpus import unigram_logprob

    return unigram_logprob(load_fixture(spark, sf_dir, "documents"))


@register(
    "doc_bm25_topk",
    f"""
WITH base AS (
    SELECT doc_id, len({_TOKS_SQL}) AS doc_len, u.term
    FROM documents, unnest({_TOKS_SQL}) AS u(term)
    WHERE u.term IN ('spark', 'merge', 'window')
), tf AS (
    SELECT doc_id, term, COUNT(*) AS tf, MAX(doc_len) AS doc_len
    FROM base GROUP BY doc_id, term
), stats AS (
    SELECT COUNT(*) AS n_docs, AVG(len({_TOKS_SQL})) AS avg_len FROM documents
), dfreq AS (
    SELECT term, COUNT(*) AS df FROM tf GROUP BY term
), scored AS (
    SELECT tf.doc_id,
           ROUND(SUM(
               ln(1 + (s.n_docs - d.df + 0.5) / (d.df + 0.5))
               * tf.tf * 2.2
               / (tf.tf + 1.2 * (0.25 + 0.75 * tf.doc_len / s.avg_len))
           ), 6) AS bm25
    FROM tf JOIN dfreq d USING (term) CROSS JOIN stats s
    GROUP BY tf.doc_id
)
SELECT doc_id, bm25 FROM scored ORDER BY bm25 DESC, doc_id LIMIT 10
""",
)
def q_doc_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-10 for the query {spark, merge, window}: lexical search
    over the corpus (operators/retrieval.py). One term-filtered explode,
    broadcast df + corpus stats, TakeOrderedAndProject ranking."""
    from .operators.retrieval import bm25_topk

    return bm25_topk(
        load_fixture(spark, sf_dir, "documents"),
        ["spark", "merge", "window"],
        k=10,
    )


def _pii_oracle_sql() -> str:
    from .functions.text import PII_EMAIL_PATTERN, PII_PHONE_PATTERN

    any_pat = f"({PII_EMAIL_PATTERN})|({PII_PHONE_PATTERN})"
    return f"""
WITH aug AS (
    SELECT doc_id,
           text || ' contact user' || CAST(doc_id AS VARCHAR)
                || '@mail.example call 555-'
                || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS t
    FROM documents
)
SELECT doc_id,
       len(regexp_extract_all(t, '{any_pat}')) AS n_pii,
       regexp_replace(
           regexp_replace(t, '{PII_EMAIL_PATTERN}', '<EMAIL>', 'g'),
           '{PII_PHONE_PATTERN}', '<PHONE>', 'g') AS clean_text
FROM aug
"""


@register("doc_pii_redaction", _pii_oracle_sql())
def q_doc_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction (functions/text.py redact_pii): every document gets a
    deterministic synthetic email + phone appended, then masked — the
    full redacted text is oracle-compared byte-for-byte, plus the span
    count the redaction-rate gate would consume. Pure map-side
    regexp_replace; the patterns are shared verbatim with the oracle
    (character classes only, so Java regex ≡ RE2)."""
    from .functions.text import pii_count, redact_pii

    docs = load_fixture(spark, sf_dir, "documents")
    aug = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@mail.example call 555-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
    )
    return docs.select(
        "doc_id",
        pii_count(aug).cast("long").alias("n_pii"),
        redact_pii(aug).alias("clean_text"),
    )


@register(
    "qty_cube",
    """
SELECT l_returnflag, l_linestatus,
       ROUND(SUM(l_quantity), 2) AS sum_qty,
       COUNT(*) AS n_rows,
       GROUPING(l_returnflag, l_linestatus) AS gid
FROM lineitem
GROUP BY CUBE(l_returnflag, l_linestatus)
""",
)
def q_qty_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE: all grouping-set combinations + GROUPING() ids (§2.4
    extension next to qty_rollup). One Expand into one aggregate."""
    from .plans.analytics import qty_cube

    return qty_cube(load_fixture(spark, sf_dir, "lineitem")).withColumn(
        "gid", F.col("gid").cast("long")
    )


# ---------------------------------------------------------------------------
# Round-4 extension tier: sequential event analytics, corpus association
# statistics, retrieval index materialization, robust outlier audit.
# ---------------------------------------------------------------------------


@register(
    "event_funnel",
    """
WITH u1 AS (
    SELECT user_id, MIN(ts) AS t FROM events
    WHERE event_type = 'view' GROUP BY user_id
), u2 AS (
    SELECT e.user_id, MIN(e.ts) AS t
    FROM events e JOIN u1 USING (user_id)
    WHERE e.event_type = 'click' AND e.ts > u1.t GROUP BY e.user_id
), u3 AS (
    SELECT e.user_id, MIN(e.ts) AS t
    FROM events e JOIN u2 USING (user_id)
    WHERE e.event_type = 'purchase' AND e.ts > u2.t GROUP BY e.user_id
)
SELECT 'view' AS step, CAST(1 AS BIGINT) AS step_idx, COUNT(*) AS n_users FROM u1
UNION ALL
SELECT 'click', CAST(2 AS BIGINT), COUNT(*) FROM u2
UNION ALL
SELECT 'purchase', CAST(3 AS BIGINT), COUNT(*) FROM u3
""",
)
def q_event_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel view → click → purchase with
    earliest-event chaining (operators/funnel.event_funnel): user-keyed,
    monotonically shrinking per-step frames."""
    from .operators.funnel import event_funnel

    return event_funnel(
        load_fixture(spark, sf_dir, "events"), ["view", "click", "purchase"]
    )


@register(
    "user_retention_cohorts",
    """
WITH f AS (
    SELECT user_id, date_trunc('week', MIN(ts)) AS cohort_week
    FROM events GROUP BY user_id
), a AS (
    SELECT DISTINCT user_id, date_trunc('week', ts) AS w FROM events
)
SELECT f.cohort_week,
       CAST(date_diff('day', f.cohort_week, a.w) // 7 AS BIGINT) AS week_offset,
       COUNT(*) AS n_users
FROM a JOIN f USING (user_id)
GROUP BY 1, 2
""",
)
def q_user_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly retention triangle (operators/funnel.retention_cohorts):
    cohort = Monday-truncated week of first event; offsets are exact
    integer week differences (both engines truncate to Mondays)."""
    from .operators.funnel import retention_cohorts

    return retention_cohorts(load_fixture(spark, sf_dir, "events"))


@register(
    "event_value_outliers",
    """
WITH f AS (
    SELECT event_type,
           quantile_cont(value, 0.25) AS q1,
           quantile_cont(value, 0.75) AS q3
    FROM events GROUP BY event_type
)
SELECT e.event_type,
       ROUND(MAX(f.q1), 6) AS q1,
       ROUND(MAX(f.q3), 6) AS q3,
       COUNT(*) AS n_rows,
       CAST(SUM(CASE WHEN e.value < f.q1 - 1.5 * (f.q3 - f.q1)
                       OR e.value > f.q3 + 1.5 * (f.q3 - f.q1)
                THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
       ROUND(SUM(CASE WHEN e.value < f.q1 - 1.5 * (f.q3 - f.q1)
                        OR e.value > f.q3 + 1.5 * (f.q3 - f.q1)
                 THEN 1 ELSE 0 END) / COUNT(*), 6) AS outlier_frac
FROM events e JOIN f USING (event_type)
GROUP BY e.event_type
""",
)
def q_event_value_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tukey-fence outlier audit per event_type
    (operators/quality.iqr_outliers): exact interpolated quartiles
    (percentile ≡ quantile_cont), broadcast fence join, one counting pass."""
    from .operators.quality import iqr_outliers

    return iqr_outliers(load_fixture(spark, sf_dir, "events"))


@register(
    "doc_inverted_index",
    f"""
WITH occ AS (
    SELECT DISTINCT doc_id, u.term
    FROM documents, unnest({_TOKS_SQL}) AS u(term)
    WHERE length(u.term) >= 1
)
SELECT term, COUNT(*) AS df,
       string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id) AS postings
FROM occ GROUP BY term HAVING COUNT(*) >= 2
""",
)
def q_doc_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Posting-list materialization (operators/retrieval.inverted_index):
    term → (df, ascending comma-joined doc ids), min_df 2 — the build
    BM25 serves from at scale."""
    from .operators.retrieval import inverted_index

    return inverted_index(load_fixture(spark, sf_dir, "documents"))


@register(
    "term_pmi_pairs",
    f"""
WITH occ AS (
    SELECT DISTINCT doc_id, u.term
    FROM documents, unnest({_TOKS_SQL}) AS u(term)
    WHERE length(u.term) >= 1
), n AS (
    SELECT COUNT(*) AS n_docs FROM documents
), vocab AS (
    SELECT term, COUNT(*) AS df FROM occ
    GROUP BY term HAVING COUNT(*) * 10 >= (SELECT n_docs FROM n)
), occq AS (
    SELECT o.doc_id, o.term FROM occ o JOIN vocab USING (term)
), pairs AS (
    SELECT a.term AS term_a, b.term AS term_b, COUNT(*) AS n_ab
    FROM occq a JOIN occq b ON a.doc_id = b.doc_id AND a.term < b.term
    GROUP BY 1, 2 HAVING COUNT(*) * 50 >= (SELECT n_docs FROM n)
)
SELECT p.term_a, p.term_b, p.n_ab,
       ROUND(ln(p.n_ab * n.n_docs / (va.df * vb.df)), 6) AS pmi
FROM pairs p
JOIN vocab va ON va.term = p.term_a
JOIN vocab vb ON vb.term = p.term_b
CROSS JOIN n
ORDER BY pmi DESC, term_a, term_b LIMIT 20
""",
)
def q_term_pmi_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 term collocations by document-level PMI
    (operators/corpus.pmi_pairs): df-gated vocabulary (≥ N/10 docs),
    pair support ≥ N/50 — integer-ratio thresholds so both engines gate
    identically at any scale."""
    from .operators.corpus import pmi_pairs

    return pmi_pairs(load_fixture(spark, sf_dir, "documents"))


@register(
    "doc_bigram_logprob",
    f"""
WITH toks AS (
    SELECT doc_id, {_TOKS_SQL} AS t FROM documents
), occ1 AS (
    SELECT doc_id, u.term FROM documents, unnest({_TOKS_SQL}) AS u(term)
), v AS (
    SELECT COUNT(DISTINCT term) AS vsize FROM occ1
), occ2 AS (
    SELECT doc_id, t[i] AS w1, t[i] || ' ' || t[i + 1] AS big
    FROM toks, unnest(generate_series(1, len(t) - 1)) AS g(i)
), bc AS (
    SELECT big, COUNT(*) AS cb FROM occ2 GROUP BY big
), cc AS (
    SELECT w1, COUNT(*) AS cctx FROM occ2 GROUP BY w1
)
SELECT o.doc_id, COUNT(*) AS n_bigrams,
       ROUND(AVG(ln((bc.cb + 1.0) / (cc.cctx + v.vsize))), 6) AS avg_logprob
FROM occ2 o JOIN bc USING (big) JOIN cc USING (w1) CROSS JOIN v
GROUP BY o.doc_id
""",
)
def q_doc_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Add-one-smoothed bigram LM quality score
    (operators/corpus.bigram_logprob) — order-sensitive rung above
    doc_unigram_logprob; same one-expansion physical shape."""
    from .operators.corpus import bigram_logprob

    return bigram_logprob(load_fixture(spark, sf_dir, "documents"))


@register(
    "doc_edit_distance_near_dups",
    """
WITH d AS (
    SELECT doc_id, lower(substr(text, 1, 32)) AS p, length(text) // 64 AS blk
    FROM documents
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(levenshtein(a.p, b.p) AS BIGINT) AS edit_dist
FROM d a JOIN d b
  ON b.blk BETWEEN a.blk - 1 AND a.blk + 1 AND a.doc_id < b.doc_id
WHERE levenshtein(a.p, b.p) <= 5
""",
)
def q_doc_edit_distance_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-level near-dup pairs: Levenshtein ≤ 5 over 32-char
    lowercased prefixes, blocked on length//64 buckets with adjacent-bucket
    probing so boundary-straddling lengths still meet
    (operators/dedup.edit_distance_near_dups)."""
    from .operators.dedup import edit_distance_near_dups

    return edit_distance_near_dups(load_fixture(spark, sf_dir, "documents"))


@register(
    "view_click_attribution",
    """
SELECT v.user_id, v.ts AS view_ts, c.ts AS click_ts,
       CAST(date_diff('microsecond', v.ts, c.ts) // 1000000 AS BIGINT)
           AS lag_seconds
FROM (SELECT user_id, ts FROM events WHERE event_type = 'view') v
JOIN (SELECT user_id, ts FROM events WHERE event_type = 'click') c
  ON v.user_id = c.user_id
 AND c.ts >= v.ts
 AND c.ts <= v.ts + INTERVAL 30 MINUTE
""",
)
def q_view_click_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of the stream-stream interval join
    (streaming/windows.click_attribution_join): every click paired with
    the same user's views in the preceding 30 minutes — identical join
    condition the streaming variant runs with two watermarks, so batch ≡
    stream is provable (tests/test_streaming.py)."""
    from .streaming.windows import click_attribution_join

    ev = load_fixture(spark, sf_dir, "events")
    return click_attribution_join(
        ev.filter(F.col("event_type") == "view"),
        ev.filter(F.col("event_type") == "click"),
    )


@register(
    "doc_length_deciles",
    """
WITH b AS (
    SELECT quantile_cont(n_chars, 0.1) AS b1, quantile_cont(n_chars, 0.2) AS b2,
           quantile_cont(n_chars, 0.3) AS b3, quantile_cont(n_chars, 0.4) AS b4,
           quantile_cont(n_chars, 0.5) AS b5, quantile_cont(n_chars, 0.6) AS b6,
           quantile_cont(n_chars, 0.7) AS b7, quantile_cont(n_chars, 0.8) AS b8,
           quantile_cont(n_chars, 0.9) AS b9
    FROM documents
)
SELECT CAST(1 + (CASE WHEN n_chars > b1 THEN 1 ELSE 0 END)
              + (CASE WHEN n_chars > b2 THEN 1 ELSE 0 END)
              + (CASE WHEN n_chars > b3 THEN 1 ELSE 0 END)
              + (CASE WHEN n_chars > b4 THEN 1 ELSE 0 END)
              + (CASE WHEN n_chars > b5 THEN 1 ELSE 0 END)
              + (CASE WHEN n_chars > b6 THEN 1 ELSE 0 END)
              + (CASE WHEN n_chars > b7 THEN 1 ELSE 0 END)
              + (CASE WHEN n_chars > b8 THEN 1 ELSE 0 END)
              + (CASE WHEN n_chars > b9 THEN 1 ELSE 0 END) AS BIGINT) AS bucket,
       COUNT(*) AS n_rows, MIN(n_chars) AS lo, MAX(n_chars) AS hi
FROM documents CROSS JOIN b
GROUP BY 1
""",
)
def q_doc_length_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth decile histogram over document length
    (operators/quality.equi_depth_histogram): broadcast boundary vector +
    map-side assignment — the distributed depth-bucketing idiom (a global
    ntile window would need a single-partition total order)."""
    from .operators.quality import equi_depth_histogram

    return equi_depth_histogram(load_fixture(spark, sf_dir, "documents"))


@register(
    "doc_near_dup_triangles",
    """
WITH d AS (
    SELECT doc_id, lower(substr(text, 1, 32)) AS p, length(text) // 64 AS blk
    FROM documents
), e AS (
    SELECT a.doc_id AS u, b.doc_id AS v
    FROM d a JOIN d b
      ON b.blk BETWEEN a.blk - 1 AND a.blk + 1 AND a.doc_id < b.doc_id
    WHERE levenshtein(a.p, b.p) <= 5
)
SELECT e1.u AS u, e1.v AS v, e2.v AS w
FROM e e1
JOIN e e2 ON e1.v = e2.u
JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v
""",
)
def q_doc_near_dup_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle enumeration over the edit-distance near-dup graph
    (operators/graph.triangles): mutually-confirming template families.
    One 2-path join + one closure semi-join on the ascending
    orientation."""
    from .operators.dedup import edit_distance_near_dups
    from .operators.graph import triangles

    pairs = edit_distance_near_dups(load_fixture(spark, sf_dir, "documents"))
    return triangles(pairs, src="id_a", dst="id_b")


@register(
    "doc_near_dup_triangles_degree",
    _ORACLES["doc_near_dup_triangles"],
)
def q_doc_near_dup_triangles_degree(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle enumeration under DEGREE-ordered orientation
    (operators/graph.triangles orient="degree"): the same triangle set as
    doc_near_dup_triangles — orientation never changes the answer, only
    the wedge fan-out — via edges pointed lower-(degree, id) →
    higher, capping per-vertex 2-path work at O(sqrt(|E|)) on power-law
    near-dup graphs (template families = hubs). The oracle is therefore
    the identical unrolled SQL; the hash match IS the cross-orientation
    equivalence check at driver level."""
    from .operators.dedup import edit_distance_near_dups
    from .operators.graph import triangles

    pairs = edit_distance_near_dups(load_fixture(spark, sf_dir, "documents"))
    return triangles(pairs, src="id_a", dst="id_b", orient="degree")


@register(
    "price_trend_regression",
    """
SELECT l_returnflag,
       ROUND(regr_slope(l_extendedprice,
                        date_diff('day', DATE '1992-01-01', l_shipdate)), 6)
           AS slope,
       ROUND(regr_intercept(l_extendedprice,
                            date_diff('day', DATE '1992-01-01', l_shipdate)), 6)
           AS intercept,
       ROUND(regr_r2(l_extendedprice,
                     date_diff('day', DATE '1992-01-01', l_shipdate)), 6)
           AS r2,
       COUNT(*) AS n_rows
FROM lineitem
GROUP BY l_returnflag
""",
)
def q_price_trend_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group OLS trend via the SQL-standard regression aggregates
    (regr_slope/intercept/r2) — the finance beta/drift primitive as ONE
    distributed aggregate (covariance partials combine map-side like any
    sum; no per-group collect). x = days since 1992-01-01 in exact
    integer day arithmetic on both engines."""
    df = load_fixture(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        "l_extendedprice",
        F.expr("datediff(to_date(l_shipdate), DATE '1992-01-01')")
        .cast("double")
        .alias("_x"),
    )
    return df.groupBy("l_returnflag").agg(
        F.round(F.expr("regr_slope(l_extendedprice, _x)"), 6).alias("slope"),
        F.round(F.expr("regr_intercept(l_extendedprice, _x)"), 6).alias(
            "intercept"
        ),
        F.round(F.expr("regr_r2(l_extendedprice, _x)"), 6).alias("r2"),
        F.count(F.lit(1)).alias("n_rows"),
    )


@register(
    "doc_containment_pairs",
    f"""
WITH g AS (
    SELECT doc_id, lang, {_GRAMS_SQL} AS grams
    FROM documents
), j AS (
    SELECT a.doc_id AS ida, b.doc_id AS idb,
           len(list_intersect(a.grams, b.grams)) AS inter,
           len(a.grams) AS na, len(b.grams) AS nb
    FROM g a JOIN g b ON a.lang = b.lang AND a.doc_id < b.doc_id
), directed AS (
    SELECT ida AS id_contained, idb AS id_container,
           ROUND(inter::DOUBLE / na, 6) AS containment FROM j
    UNION ALL
    SELECT idb, ida, ROUND(inter::DOUBLE / nb, 6) FROM j
)
SELECT * FROM directed WHERE containment >= 0.5
""",
)
def q_doc_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric n-gram containment pairs
    (operators/dedup.ngram_containment_pairs): |A∩B|/|A| ≥ 0.5 — catches
    the quoted-subset duplicates symmetric Jaccard misses; both directions
    ride one blocked join."""
    from .operators.dedup import ngram_containment_pairs

    return ngram_containment_pairs(
        load_fixture(spark, sf_dir, "documents"), threshold=0.5
    )


@register(
    "event_transition_matrix",
    """
WITH seq AS (
    SELECT event_type AS to_type,
           lag(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
           ) AS from_type
    FROM events
), t AS (
    SELECT from_type, to_type, COUNT(*) AS n_transitions
    FROM seq WHERE from_type IS NOT NULL GROUP BY 1, 2
)
SELECT from_type, to_type, n_transitions,
       ROUND(n_transitions::DOUBLE
             / SUM(n_transitions) OVER (PARTITION BY from_type), 6) AS prob
FROM t
""",
)
def q_event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix of per-user event sequences
    (operators/funnel.event_transition_matrix): one LAG window on the
    fan_out partitioning + one (from, to) aggregate; deterministic
    (ts, event_id) ordering."""
    from .operators.funnel import event_transition_matrix

    return event_transition_matrix(load_fixture(spark, sf_dir, "events"))


@register(
    "customer_tier_scd2",
    """
WITH u AS (
    SELECT o_custkey AS c_key, o_orderdate AS valid_from,
           CASE WHEN MAX(o_totalprice) >= 150000 THEN 'high'
                WHEN MAX(o_totalprice) >= 50000 THEN 'mid'
                ELSE 'low' END AS tier
    FROM orders GROUP BY 1, 2
), chained AS (
    SELECT c_key, tier, valid_from,
           lag(tier) OVER (PARTITION BY c_key ORDER BY valid_from) AS _prev
    FROM u
), real AS (
    SELECT c_key, tier, valid_from FROM chained
    WHERE _prev IS NULL OR tier <> _prev
)
SELECT c_key, tier, valid_from,
       lead(valid_from) OVER (
           PARTITION BY c_key ORDER BY valid_from) AS valid_to,
       lead(valid_from) OVER (
           PARTITION BY c_key ORDER BY valid_from) IS NULL AS is_current
FROM real
""",
)
def q_customer_tier_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 history build (operators/scd.scd2_apply) from a deterministic
    update stream: each customer's per-order-date spend tier; no-op
    deliveries (tier unchanged) collapse, validity intervals come from the
    LEAD window, exactly the ANSI-SQL twin."""
    from .operators.scd import scd2_apply

    orders = load_fixture(spark, sf_dir, "orders")
    updates = (
        orders.groupBy(
            F.col("o_custkey").alias("c_key"),
            F.col("o_orderdate").alias("ts"),
        )
        .agg(F.max("o_totalprice").alias("_p"))
        .select(
            "c_key",
            "ts",
            F.when(F.col("_p") >= 150000, "high")
            .when(F.col("_p") >= 50000, "mid")
            .otherwise("low")
            .alias("tier"),
        )
    )
    return scd2_apply(None, updates, key="c_key", ts="ts", attrs=["tier"])


@register(
    "trailing_7d_avg_price",
    """
SELECT l_orderkey, l_linenumber, l_partkey,
       ROUND(AVG(l_extendedprice) OVER (
           PARTITION BY l_partkey
           ORDER BY date_diff('day', DATE '1970-01-01', l_shipdate)
           RANGE BETWEEN 6 PRECEDING AND CURRENT ROW
       ), 6) AS avg_7d
FROM lineitem
""",
)
def q_trailing_7d_avg_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-based RANGE window frame: per-part trailing 7-CALENDAR-DAY
    average price. Unlike the ROWS frame (rolling_close_avg), a RANGE
    frame is gap-aware — a part that didn't trade for a week averages
    only its own day, instead of reaching back an arbitrary row count.
    Spark expresses the interval frame as rangeBetween over exact integer
    epoch-days (Window.rangeBetween takes numeric offsets; the day cast
    is exact), bit-equal to DuckDB's RANGE BETWEEN 6 PRECEDING."""
    from pyspark.sql import Window

    df = load_fixture(spark, sf_dir, "lineitem")
    w = (
        Window.partitionBy("l_partkey")
        .orderBy(
            F.datediff(
                F.to_date("l_shipdate"), F.lit("1970-01-01").cast("date")
            ).cast("long")
        )
        .rangeBetween(-6, 0)
    )
    return df.select(
        "l_orderkey",
        "l_linenumber",
        "l_partkey",
        F.round(F.avg("l_extendedprice").over(w), 6).alias("avg_7d"),
    )


@register(
    "doc_token_entropy",
    f"""
WITH t AS (
    SELECT doc_id, {_TOKS_SQL} AS toks FROM documents
)
SELECT doc_id,
       len(toks) AS n_tokens,
       len(list_distinct(toks)) AS n_distinct,
       ROUND(-list_sum(list_transform(list_distinct(toks), tok ->
           (len(list_filter(toks, x -> x = tok))::DOUBLE / len(toks))
           * ln(len(list_filter(toks, x -> x = tok))::DOUBLE / len(toks))
       )), 6) AS entropy
FROM t
""",
)
def q_doc_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document token Shannon entropy + distinct count
    (functions/text.token_entropy_from): the degenerate-text detector —
    near-zero = one token looping, ln(n) = all-distinct. Entirely
    map-side array expressions; no explode, no shuffle."""
    from .functions.text import token_entropy_from, tokens

    docs = load_fixture(spark, sf_dir, "documents")
    toks = tokens("text")
    return docs.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_distinct"),
        F.round(token_entropy_from(toks), 6).alias("entropy"),
    )


@register(
    "corpus_lang_source_chi2",
    """
WITH obs AS (
    SELECT lang, source, COUNT(*) AS o FROM documents GROUP BY 1, 2
), margins AS (
    SELECT o.lang, o.source, o.o,
           SUM(o.o) OVER (PARTITION BY o.lang) AS row_tot,
           SUM(o.o) OVER (PARTITION BY o.source) AS col_tot,
           SUM(o.o) OVER () AS n
    FROM obs o
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_cells,
       ROUND(SUM(
           (o - row_tot * col_tot / n) * (o - row_tot * col_tot / n)
           / (row_tot * col_tot / n)
       ), 6) AS chi2
FROM margins
""",
)
def q_corpus_lang_source_chi2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square contingency audit of lang x source: detects crawl-source
    language skew (a source whose language mix diverges from the corpus).
    One (lang, source) aggregate; margins ride window functions over the
    CELL frame (|langs| x |sources| rows — tiny at any corpus size), and
    only observed cells contribute, identically on both engines."""
    from pyspark.sql import Window

    docs = load_fixture(spark, sf_dir, "documents")
    obs = docs.groupBy("lang", "source").agg(F.count(F.lit(1)).alias("o"))
    m = (
        obs.withColumn("row_tot", F.sum("o").over(Window.partitionBy("lang")))
        .withColumn("col_tot", F.sum("o").over(Window.partitionBy("source")))
        .withColumn("n", F.sum("o").over(Window.partitionBy()))
    )
    e = F.col("row_tot") * F.col("col_tot") / F.col("n")
    return m.agg(
        F.count(F.lit(1)).cast("long").alias("n_cells"),
        F.round(F.sum((F.col("o") - e) * (F.col("o") - e) / e), 6).alias(
            "chi2"
        ),
    )


@register(
    "top_event_trigrams",
    """
WITH seq AS (
    SELECT event_type AS c,
           lag(event_type, 1) OVER w AS b,
           lag(event_type, 2) OVER w AS a
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT a || '>' || b || '>' || c AS trigram, COUNT(*) AS n
FROM seq WHERE a IS NOT NULL
GROUP BY 1
ORDER BY n DESC, trigram
LIMIT 15
""",
)
def q_top_event_trigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-15 per-user event-type trigrams (sequential pattern mining
    lite): two LAGs over ONE per-user window pass — both offsets share the
    single (ts, event_id) sort — then a trigram-keyed aggregate and a
    TakeOrderedAndProject with a deterministic tiebreak."""
    from pyspark.sql import Window

    ev = fan_out(load_fixture(spark, sf_dir, "events"), "user_id")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.col("event_type").alias("c"),
        F.lag("event_type", 1).over(w).alias("b"),
        F.lag("event_type", 2).over(w).alias("a"),
    )
    return (
        seq.filter(F.col("a").isNotNull())
        .select(
            F.concat_ws(">", "a", "b", "c").alias("trigram")
        )
        .groupBy("trigram")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), "trigram")
        .limit(15)
    )
