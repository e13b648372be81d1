"""Corpus-level term statistics (training-data tier, SURVEY.md §7.5).

Global vocabulary statistics — collection frequency, document frequency,
and their ratio shapes (IDF) — are the backbone of corpus analysis and of
classic quality filters (rare-token ratio, boilerplate detection).

Physical shape: tokenize map-side (codegen), ``explode`` to one row per
token occurrence, then a single hash-aggregate keyed on the term. Document
frequency rides the same shuffle as a two-level aggregate (first
(term, doc) distinct via the group key, then term) instead of a separate
``countDistinct`` pass. At 100 TB this is the canonical word-count shape:
partial aggregation collapses each partition's occurrences before the
exchange, so shuffle bytes are bounded by |vocab| per partition, not by
corpus size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text import (
    stopword_hits_from,
    tokens,
    word_ngrams,
    word_ngrams_from,
)
from ..util import fan_out


def term_frequencies(
    docs: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_len: int = 1,
) -> DataFrame:
    """(term, tf, df) for every term: collection frequency (total
    occurrences) and document frequency (docs containing it).

    One explode + one two-level hash-aggregate. ``tf`` sums per-doc counts,
    so both stats come out of the same (term, doc) pre-aggregate — one
    shuffle keyed on term carries everything.
    """
    # fan out keyed on doc_id: all of a doc's occurrences stay co-located,
    # so hash-partitioning(doc_id) already satisfies the (term, doc_id)
    # grouping's clustering requirement and the per-doc aggregate runs
    # exchange-free — only the final term-keyed shuffle moves data.
    occurrences = (
        fan_out(docs, id_col)
        .select(F.col(id_col), F.explode(tokens(text_col)).alias("term"))
        .filter(F.length("term") >= min_len)
    )
    per_doc = occurrences.groupBy("term", id_col).agg(
        F.count("*").alias("n_in_doc")
    )
    return per_doc.groupBy("term").agg(
        F.sum("n_in_doc").alias("tf"),
        F.count("*").alias("df"),
    )


def repetition_stats(
    docs: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document repetition signals — the Gopher/C4 family of quality
    filters for catching degenerate (looping, boilerplate-stuffed) text:

    - ``top_token_frac``:   occurrences of the most frequent token / tokens
    - ``top_bigram_frac``:  occurrences of the most frequent bigram / bigrams
    - ``dup_trigram_frac``: share of trigram occurrences beyond each
      gram's first (1 − distinct/total)

    Physical shape: all three gram sizes ride ONE explode — each (doc,
    gram_size, gram) occurrence is a row — then a two-level hash aggregate:
    (doc, size, gram) counts, (doc, size) max/sum/distinct, and a final
    per-doc pivot. The fan-out keys on the doc id, so the first aggregate's
    (doc, …) grouping is satisfied by the exchange the fan-out already
    paid; partial aggregation collapses repeats map-side, bounding shuffle
    rows by distinct grams per doc.
    """
    # force=True (r15): the exploded (doc, size, gram) stream carries
    # gram STRINGS at ~3 rows per corpus token — more bytes than the
    # raw text — so the compact pre-explode text exchange, which the
    # co-partitioned (doc, ...) aggregate then rides shuffle-free, is
    # the cheaper wire (measured: 4.0 s → 3.0 s at 50k docs when the
    # conditional fan-out skipped it)
    base = fan_out(docs, id_col, force=True).select(
        F.col(id_col), tokens(text_col).alias("toks")
    )
    units = base.select(
        F.col(id_col),
        F.explode(
            F.concat(
                F.transform(
                    "toks",
                    lambda t: F.struct(F.lit(1).alias("n"), t.alias("gram")),
                ),
                F.transform(
                    word_ngrams_from(F.col("toks"), 2),
                    lambda g: F.struct(F.lit(2).alias("n"), g.alias("gram")),
                ),
                F.transform(
                    word_ngrams_from(F.col("toks"), 3),
                    lambda g: F.struct(F.lit(3).alias("n"), g.alias("gram")),
                ),
            )
        ).alias("u"),
    ).select(F.col(id_col), F.col("u.n").alias("n"), F.col("u.gram").alias("gram"))
    counts = units.groupBy(id_col, "n", "gram").agg(F.count("*").alias("c"))
    per_size = counts.groupBy(id_col, "n").agg(
        F.max("c").alias("top_c"),
        F.sum("c").alias("total"),
        F.count("*").alias("n_distinct"),
    )
    def _frac(size: int, expr):
        return F.round(
            F.max(F.when(F.col("n") == size, expr)), 6
        )
    return per_size.groupBy(id_col).agg(
        _frac(1, F.col("top_c") / F.col("total")).alias("top_token_frac"),
        _frac(2, F.col("top_c") / F.col("total")).alias("top_bigram_frac"),
        _frac(3, 1 - F.col("n_distinct") / F.col("total")).alias(
            "dup_trigram_frac"
        ),
    )


def contamination_flags(
    docs: DataFrame,
    benchmark: DataFrame,
    *,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Benchmark decontamination: flag training docs sharing any word
    n-gram with an evaluation/benchmark set (the standard n-gram-overlap
    contamination test applied before a training run).

    (id, n_overlap_grams, contaminated) for EVERY corpus doc —
    n_overlap_grams counts the doc's distinct grams that appear anywhere
    in the benchmark.

    Scale shape: the benchmark's distinct gram set is tiny next to the
    corpus (eval sets are thousands of docs, corpora billions), so it
    BROADCASTS — the corpus side stays map-local: explode distinct grams,
    broadcast-hash-join, one groupBy keyed on the id the fan-out already
    hashed. The final left join re-attaches zero-overlap docs without
    moving text.
    """
    bench_grams = (
        fan_out(benchmark, id_col)
        .select(
            F.explode(F.array_distinct(word_ngrams(text_col, n))).alias("gram")
        )
        .distinct()
    )
    doc_grams = fan_out(docs, id_col).select(
        F.col(id_col),
        F.explode(F.array_distinct(word_ngrams(text_col, n))).alias("gram"),
    )
    overlap = (
        doc_grams.join(F.broadcast(bench_grams), "gram")
        .groupBy(id_col)
        .agg(F.count("*").alias("_n_overlap"))
    )
    return (
        docs.select(id_col)
        .join(overlap, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce("_n_overlap", F.lit(0)).alias("n_overlap_grams"),
            (F.coalesce("_n_overlap", F.lit(0)) > 0).alias("contaminated"),
        )
    )


def tfidf_top_terms(
    docs: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    min_len: int = 1,
) -> DataFrame:
    """Top-k characteristic terms per document by smoothed TF-IDF:
    ``(n_in_doc / doc_len) * ln((N + 1) / (df + 1))``, rounded to 6 — the
    classic keyword-extraction / boilerplate-contrast signal.

    One explode feeds everything: per-(doc, term) counts run co-located
    (fan_out keys the scan by doc), document length is a window over the
    same per-doc rows, document frequency is the term-keyed second-level
    aggregate, and the global doc count N joins in as a broadcast one-row
    frame (kept lazy — no driver round-trip). Ranking happens on the
    ROUNDED score (ties → term asc): cross-engine float ulps can't flip
    the order of equal-to-6-decimals scores, which keeps the top-k
    deterministic for the oracle as well as across Spark runs.
    """
    from pyspark.sql import Window

    # force=True (r15): per_doc below is MULTI-consumer (doc-length
    # window, the df aggregate, the scoring join) and its co-partitioned
    # (doc, term) aggregate has no exchange of its own — this fan-out
    # exchange is the one stage they all share (measured: 1.45 s → 1.06 s
    # at 50k docs when the conditional skip removed it)
    occurrences = (
        fan_out(docs, id_col, force=True)
        .select(F.col(id_col), F.explode(tokens(text_col)).alias("term"))
        .filter(F.length("term") >= min_len)
    )
    per_doc = occurrences.groupBy(id_col, "term").agg(
        F.count("*").alias("n_in_doc")
    )
    doc_len = Window.partitionBy(id_col)
    df_frame = per_doc.groupBy("term").agg(F.count("*").alias("df"))
    n_docs = docs.agg(F.count(F.lit(1)).alias("_n_docs"))
    scored = (
        per_doc.withColumn("doc_len", F.sum("n_in_doc").over(doc_len))
        .join(df_frame, "term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "tfidf",
            F.round(
                F.col("n_in_doc")
                / F.col("doc_len")
                * F.log((F.col("_n_docs") + 1) / (F.col("df") + 1)),
                6,
            ),
        )
    )
    rank_w = Window.partitionBy(id_col).orderBy(
        F.desc("tfidf"), F.asc("term")
    )
    return (
        scored.withColumn("rank", F.row_number().over(rank_w))
        .filter(F.col("rank") <= k)
        .select(id_col, "term", "tfidf", "rank")
    )


def unigram_logprob(
    docs: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_len: int = 1,
) -> DataFrame:
    """(doc_id, n_tokens, avg_logprob) under the corpus's own unigram LM —
    the cheapest perplexity proxy: fluent, typical text scores high;
    gibberish, boilerplate explosions, and wrong-language contamination
    score low. The standard first-pass LM-quality filter when a real LM is
    too expensive to run over 100 TB.

    ``avg_logprob = mean over tokens of ln(tf(token) / total_tokens)``,
    with tf taken over the whole corpus (the document scores against the
    collection it lives in — self-normalized, no external model).

    Physical shape: ONE explode feeds both sides — the global unigram
    table is the term-keyed aggregate (bounded by |vocab|), re-joined to
    the per-occurrence rows on term, then one mean per doc. The join is
    term-keyed (vocab-sized build side: broadcastable at any corpus scale
    with a vocab cap) and the final aggregate rides the doc key. The total
    token count joins as a broadcast one-row frame, folded inside the log:
    ln(tf) - ln(total) keeps the arithmetic associative-safe.
    """
    occurrences = (
        fan_out(docs, id_col)
        .select(F.col(id_col), F.explode(tokens(text_col)).alias("term"))
        .filter(F.length("term") >= min_len)
    )
    vocab = occurrences.groupBy("term").agg(F.count("*").alias("tf"))
    total = vocab.agg(F.sum("tf").alias("_total"))
    return (
        occurrences.join(vocab, "term")
        .crossJoin(F.broadcast(total))
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.round(
                F.avg(F.log("tf") - F.log("_total")), 6
            ).alias("avg_logprob"),
        )
    )


def pmi_pairs(
    docs: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_df_ratio: int = 10,
    min_pair_ratio: int = 50,
    k: int = 20,
) -> DataFrame:
    """(term_a, term_b, n_ab, pmi) — the ``k`` most-associated term pairs
    by document-level pointwise mutual information,
    ``pmi = ln(P(a,b) / (P(a) P(b)))`` with probabilities as document
    frequencies over N docs. The classic collocation / topic-signal
    statistic (Church & Hanks 1990) over a corpus.

    Pair generation is the quadratic hazard, so the vocabulary is gated
    FIRST: only terms appearing in at least ``N / min_df_ratio`` documents
    pair up (rare terms have unstable PMI anyway), which bounds per-doc
    pair fan-out by the qualifying-vocab size, not the doc length; pair
    support is gated at ``N / min_pair_ratio``. Both gates are INTEGER
    ratio comparisons (``df * ratio >= N``) so they are exact at any corpus
    size and mirror verbatim in the oracle — no float threshold can
    straddle an engine boundary. The qualifying vocab is a broadcast
    semi-join onto the occurrence stream; the self-join runs doc-keyed on
    the fan_out partitioning (term_a < term_b halves it); pair counts are
    one hash-aggregate; df and N attach as broadcasts. Ordering happens on
    the ROUNDED pmi with (term_a, term_b) tiebreak — a
    TakeOrderedAndProject, deterministic cross-engine.
    """
    occ = (
        fan_out(docs, id_col)
        .select(
            F.col(id_col),
            F.explode(F.array_distinct(tokens(text_col))).alias("term"),
        )
        .filter(F.length("term") >= 1)
    )
    n_docs = docs.agg(F.count(F.lit(1)).alias("_n"))
    dfreq = occ.groupBy("term").agg(F.count("*").alias("df"))
    vocab = (
        dfreq.crossJoin(F.broadcast(n_docs))
        .filter(F.col("df") * min_df_ratio >= F.col("_n"))
        .select("term", "df")
    )
    occq = occ.join(F.broadcast(vocab), "term")
    pairs = (
        occq.select(F.col(id_col), F.col("term").alias("term_a"))
        .join(
            occq.select(F.col(id_col), F.col("term").alias("term_b")),
            id_col,
        )
        .filter(F.col("term_a") < F.col("term_b"))
        .groupBy("term_a", "term_b")
        .agg(F.count("*").alias("n_ab"))
        .crossJoin(F.broadcast(n_docs))
        .filter(F.col("n_ab") * min_pair_ratio >= F.col("_n"))
        .drop("_n")
    )
    scored = (
        pairs.join(
            F.broadcast(vocab.select(F.col("term").alias("term_a"), F.col("df").alias("_dfa"))),
            "term_a",
        )
        .join(
            F.broadcast(vocab.select(F.col("term").alias("term_b"), F.col("df").alias("_dfb"))),
            "term_b",
        )
        .crossJoin(F.broadcast(n_docs))
        .select(
            "term_a",
            "term_b",
            "n_ab",
            F.round(
                F.log(F.col("n_ab") * F.col("_n") / (F.col("_dfa") * F.col("_dfb"))),
                6,
            ).alias("pmi"),
        )
    )
    return scored.orderBy(F.desc("pmi"), "term_a", "term_b").limit(k)


def bigram_logprob(
    docs: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(doc_id, n_bigrams, avg_logprob) under the corpus's own bigram LM
    with add-one smoothing — one rung above :func:`unigram_logprob` on the
    perplexity-proxy ladder: it additionally penalizes locally-implausible
    token ORDER (shuffled or templated text keeps its unigram profile but
    loses its bigram one).

    ``avg_logprob = mean over bigram positions of
    ln((c(w1 w2) + 1) / (c(w1 ·) + V))`` where counts are corpus-global,
    ``c(w1 ·)`` counts bigrams starting with w1, and V is the corpus
    vocabulary size. Documents with fewer than 2 tokens have no bigram
    event and drop out (both engines derive positions 1..len-1, which is
    empty there).

    Physical shape: same as the unigram scorer — ONE positional expansion
    feeds the bigram table (vocab²-bounded but in practice Zipf-sparse),
    the context table (vocab-bounded), and the per-doc mean; both count
    joins are term-keyed with build sides bounded by observed-vocab, and V
    attaches as a broadcast scalar frame.
    """
    base = fan_out(docs, id_col).select(
        F.col(id_col), tokens(text_col).alias("toks")
    )
    occ2 = (
        base.filter(F.size("toks") >= 2)
        .select(
            F.col(id_col),
            F.explode(
                F.expr(
                    "transform(sequence(1, size(toks) - 1), i -> "
                    "struct(element_at(toks, i) AS w1, "
                    "concat(element_at(toks, i), ' ', "
                    "element_at(toks, i + 1)) AS big))"
                )
            ).alias("u"),
        )
        .select(F.col(id_col), F.col("u.w1").alias("w1"), F.col("u.big").alias("big"))
    )
    big_counts = occ2.groupBy("big").agg(F.count("*").alias("_cb"))
    ctx_counts = occ2.groupBy("w1").agg(F.count("*").alias("_cctx"))
    vsize = (
        base.select(F.explode("toks").alias("term"))
        .agg(F.count_distinct("term").alias("_v"))
    )
    return (
        occ2.join(big_counts, "big")
        .join(ctx_counts, "w1")
        .crossJoin(F.broadcast(vsize))
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.round(
                F.avg(
                    F.log(
                        (F.col("_cb") + F.lit(1.0))
                        / (F.col("_cctx") + F.col("_v"))
                    )
                ),
                6,
            ).alias("avg_logprob"),
        )
    )


#: Gopher rule-7 stopword list (Rae et al. 2021, appendix A1.1): a doc
#: must contain at least 2 of these to pass the "natural English" check.
GOPHER_STOPWORDS: tuple[str, ...] = (
    "the", "be", "to", "of", "and", "that", "have", "with",
)


def gopher_quality_flags(
    docs: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_words: int = 50,
    max_words: int = 100_000,
    stopwords: tuple[str, ...] = GOPHER_STOPWORDS,
) -> DataFrame:
    """Per-document Gopher quality-rule bundle (Rae et al. 2021, appendix
    A1.1) — the published heuristic filter set most LLM-corpus pipelines
    start from: word-count bounds, mean-word-length bounds, symbol-to-word
    ratio, bullet/ellipsis line fractions, alphabetic-word fraction, and a
    minimum stopword count. Emits every signal AND its boolean so a
    curation pipeline can audit WHY a document was dropped, plus the
    composite ``keep``.

    All seven rules evaluate in ONE map-only projection over the token
    array (split once, reused via a lateral alias): no explode, no
    shuffle, no UDF — at 100 TB this is a pure scan at whatever
    parallelism the source provides, and Catalyst prunes to (id, text).
    Thresholds follow the paper: words in [min_words, max_words], mean
    word length in [3, 10], symbol ratio ('#' or '...') <= 0.1, < 90% of
    lines bullet-led, < 30% of lines ellipsis-ended, >= 80% of words with
    an alphabetic char, >= 2 stopword hits. Integer counts divide by
    integer totals on both engines, so every boolean lands identically in
    the SQL oracle — no float-boundary straddle.
    """
    toks = tokens(text_col)
    raw = F.col(text_col)
    lines = F.split(raw, "\n")
    d = (
        docs.select(
            F.col(id_col),
            raw.alias("_raw"),
            toks.alias("_toks"),
            lines.alias("_lines"),
        )
        .select(
            id_col,
            "_raw",
            "_toks",
            "_lines",
            F.size("_toks").alias("n_words"),
            F.aggregate(
                "_toks",
                F.lit(0).cast("long"),
                lambda acc, w: acc + F.length(w),
            ).alias("_char_sum"),
            F.size(
                F.filter("_toks", lambda w: w.rlike("[a-z]"))
            ).alias("_alpha_words"),
            stopword_hits_from("_toks", stopwords).alias(
                "stopword_hits"
            ),
            (
                F.length("_raw")
                - F.length(F.regexp_replace("_raw", "#", ""))
                + (
                    F.length("_raw")
                    - F.length(F.regexp_replace("_raw", r"\.\.\.", ""))
                )
                / F.lit(3)
            ).alias("_symbols"),
            F.size(
                F.filter(
                    "_lines",
                    lambda ln: ln.startswith("•") | ln.startswith("- "),
                )
            ).alias("_bullet_lines"),
            F.size(
                F.filter("_lines", lambda ln: ln.endswith("..."))
            ).alias("_ellipsis_lines"),
            F.size("_lines").alias("_n_lines"),
        )
    )
    n_w = F.greatest(F.col("n_words"), F.lit(1))
    n_l = F.greatest(F.col("_n_lines"), F.lit(1))
    flags = d.select(
        id_col,
        "n_words",
        F.round(F.col("_char_sum") / n_w, 6).alias("mean_word_len"),
        F.round(F.col("_symbols") / n_w, 6).alias("symbol_ratio"),
        F.round(F.col("_alpha_words") / n_w, 6).alias("alpha_word_frac"),
        "stopword_hits",
        (
            (F.col("n_words") >= min_words)
            & (F.col("n_words") <= max_words)
        ).alias("ok_word_count"),
        (
            (F.col("_char_sum") >= 3 * F.col("n_words"))
            & (F.col("_char_sum") <= 10 * F.col("n_words"))
        ).alias("ok_mean_word_len"),
        (F.col("_symbols") * 10 <= n_w).alias("ok_symbol_ratio"),
        (F.col("_bullet_lines") * 10 < n_l * 9).alias("ok_bullets"),
        (F.col("_ellipsis_lines") * 10 < n_l * 3).alias("ok_ellipsis"),
        (F.col("_alpha_words") * 10 >= n_w * 8).alias("ok_alpha_words"),
        (F.col("stopword_hits") >= 2).alias("ok_stopwords"),
    )
    return flags.withColumn(
        "keep",
        F.col("ok_word_count")
        & F.col("ok_mean_word_len")
        & F.col("ok_symbol_ratio")
        & F.col("ok_bullets")
        & F.col("ok_ellipsis")
        & F.col("ok_alpha_words")
        & F.col("ok_stopwords"),
    )


#: Line-level policy-boilerplate substrings from the public C4
#: implementation (tensorflow_datasets c4_utils.py, Raffel et al. 2020
#: §2.2): any line containing one is dropped.
C4_POLICY_SUBSTRINGS = (
    "terms of use",
    "privacy policy",
    "cookie policy",
    "uses cookies",
    "use of cookies",
    "use cookies",
)


def c4_line_quality(
    docs: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_words_per_line: int = 5,
    min_sentences: int = 3,
    policy_substrings: tuple[str, ...] = C4_POLICY_SUBSTRINGS,
) -> DataFrame:
    """C4's LINE-level quality filter (Raffel et al. 2020 §2.2) — the
    published single-document boilerplate stage between HTML extraction
    and the Gopher document-level bundle (r10 verdict, What's missing
    #3: cross-doc paragraph dedup catches REPEATED nav, this catches
    nav the corpus sees once). Per line (stripped): keep only lines
    that (a) end in a terminal punctuation mark — period, exclamation
    mark, question mark, or end quotation mark — (b) contain at least
    ``min_words_per_line`` words, (c) don't mention javascript
    (case-insensitive), and (d) don't contain a policy-boilerplate
    substring ("privacy policy", "uses cookies", ...). Per page (on
    the RAW text, the c4_utils convention): flag pages containing
    "lorem ipsum" (case-insensitive) or a curly brace (code), and
    pages whose RETAINED text has fewer than ``min_sentences``
    sentences (maximal ``[.!?]+`` runs — a deterministic heuristic,
    not a linguistic segmenter).

    Returns ``(id, text, n_lines, n_lines_kept, n_no_terminal_punct,
    n_short_lines, n_javascript_lines, n_policy_lines, n_sentences,
    has_lorem_ipsum, has_brace, keep)`` — the cleaned reassembled
    text, every per-rule count (rules counted INDEPENDENTLY, so a
    line failing two rules increments both), and the composite
    ``keep``, so a curation pipeline can audit why a page was cut.

    Physical shape: ONE map-only projection — split once, then ONE
    ``transform`` evaluates every per-line rule into a struct array
    (line text + four rule booleans), and the kept text plus all six
    counts are derived from that array with boolean-field reads only
    (r11 verdict, What's wrong #2: the previous formulation re-ran the
    regex/split/lower/contains chain up to six times per line through
    separate array filters; HOFs run interpreted outside codegen, so
    the rule chain is the stage's whole cost — CollapseProject leaves
    the struct array materialized because it is non-cheap and
    multiply-referenced). No explode, no shuffle, no UDF. At 100 TB
    this is a pure scan at source parallelism, the same posture as
    :func:`gopher_quality_flags`.
    """
    term_re = '[.!?"”]$'

    def _policy_hit(t):
        low = F.lower(t)
        hit = F.lit(False)
        for p in policy_substrings:
            hit = hit | low.contains(p)
        return hit

    def _line_flags(t):
        # every expensive per-line probe evaluates EXACTLY ONCE here
        return F.struct(
            t.alias("t"),
            t.rlike(term_re).alias("punct"),
            (
                F.size(F.split(t, r"\s+")) >= min_words_per_line
            ).alias("words"),
            F.lower(t).contains("javascript").alias("js"),
            _policy_hit(t).alias("policy"),
        )

    def _ok(f):
        return f["punct"] & f["words"] & ~f["js"] & ~f["policy"]

    raw = F.col(text_col)
    d = docs.select(
        F.col(id_col),
        raw.alias("_raw"),
        F.transform(
            F.transform(F.split(raw, "\n"), lambda x: F.trim(x)),
            _line_flags,
        ).alias("_flags"),
    ).select(
        id_col,
        "_raw",
        "_flags",
        F.array_join(
            F.transform(
                F.filter("_flags", _ok), lambda f: f["t"]
            ),
            "\n",
        ).alias("text"),
    )
    flags = F.col("_flags")
    out = d.select(
        id_col,
        "text",
        F.size(flags).alias("n_lines"),
        F.size(F.filter(flags, _ok)).alias("n_lines_kept"),
        F.size(
            F.filter(flags, lambda f: ~f["punct"])
        ).alias("n_no_terminal_punct"),
        F.size(
            F.filter(flags, lambda f: ~f["words"])
        ).alias("n_short_lines"),
        F.size(
            F.filter(flags, lambda f: f["js"])
        ).alias("n_javascript_lines"),
        F.size(
            F.filter(flags, lambda f: f["policy"])
        ).alias("n_policy_lines"),
        F.size(
            F.regexp_extract_all(F.col("text"), F.lit(r"[.!?]+"), 0)
        ).alias("n_sentences"),
        F.lower(F.col("_raw")).contains("lorem ipsum").alias(
            "has_lorem_ipsum"
        ),
        F.col("_raw").contains("{").alias("has_brace"),
    )
    return out.withColumn(
        "keep",
        (F.col("n_sentences") >= min_sentences)
        & ~F.col("has_lorem_ipsum")
        & ~F.col("has_brace"),
    )


def dsir_importance(
    docs: DataFrame,
    target,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 1024,
    alpha: float = 1.0,
) -> DataFrame:
    """DSIR — Data Selection via Importance Resampling (Xie et al. 2023):
    per-document log importance weight ``sum over bigram occurrences of
    ln(p_target(bucket) / p_raw(bucket))`` where both distributions are
    add-alpha-smoothed histograms over ``n_buckets`` HASHED word-bigram
    features; ``target`` is a boolean Column marking the in-domain subset
    (the distribution you want more of) and raw is the whole corpus being
    scored. High-weight documents look like the target; resampling by
    weight is the published way to tilt a 100 TB crawl toward a small
    high-quality reference set without training a classifier.

    Physical shape: ONE explode of (doc, bigram) occurrences feeds both
    sides. The bucket histograms are a single hash-aggregate bounded by
    ``n_buckets`` rows (a conditional sum rides the same pass for the
    target side), so the per-bucket log-ratio table is broadcast back
    onto the occurrence stream — map-side join, then one doc-keyed
    aggregate. Nothing in the plan scales with corpus size except the
    scan and the two doc/bucket-keyed aggregates; there is no pairwise
    anything. The bucket hash is the house PORTABLE md5 form (mirrors
    verbatim in DuckDB), and the log-ratio folds as
    ``ln(c_t + a) - ln(tot_t + aB) - ln(c_r + a) + ln(tot_r + aB)`` so
    each term is engine-exact before the (rounded) per-doc sum.

    ``occ`` feeds two consumers (the bucket histogram and the final
    ratio join) and is deliberately NOT localCheckpointed despite the
    house derived-frame-reuse rule: the occurrence stream is
    CORPUS-SCALE (one row per bigram occurrence — several times the
    raw text), so materializing it writes more bytes than the second
    tokenize+hash pass costs to recompute, and the trade only worsens
    at 100 TB where checkpoint storage is the scarce resource.
    """
    occ = (
        fan_out(docs, id_col)
        .select(
            F.col(id_col),
            F.col(target).alias("_t") if isinstance(target, str) else target.alias("_t"),
            F.explode(word_ngrams(text_col, 2)).alias("gram"),
        )
        .select(
            id_col,
            "_t",
            (
                F.conv(F.substring(F.md5("gram"), 1, 8), 16, 10).cast("bigint")
                % n_buckets
            ).alias("bucket"),
        )
    )
    # r15: `hist` is referenced twice (totals + ratios) and each
    # reference re-plans the full corpus occ scan+aggregate beneath it;
    # unlike `occ` the frame is BUCKET-BOUNDED (n_buckets rows), so the
    # house derived-frame-reuse rule applies — one lazy localCheckpoint
    # guarantees the corpus histogram pass runs once regardless of
    # runtime exchange-reuse luck.
    hist = occ.groupBy("bucket").agg(
        F.sum(F.when(F.col("_t"), 1).otherwise(0)).alias("_c_t"),
        F.count(F.lit(1)).alias("_c_r"),
    ).localCheckpoint(eager=False)
    totals = hist.agg(
        F.sum("_c_t").alias("_tot_t"), F.sum("_c_r").alias("_tot_r")
    )
    ratios = hist.crossJoin(F.broadcast(totals)).select(
        "bucket",
        (
            F.log(F.col("_c_t") + F.lit(alpha))
            - F.log(F.col("_tot_t") + F.lit(alpha * n_buckets))
            - F.log(F.col("_c_r") + F.lit(alpha))
            + F.log(F.col("_tot_r") + F.lit(alpha * n_buckets))
        ).alias("_log_ratio"),
    )
    return (
        occ.join(F.broadcast(ratios), "bucket")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.round(F.sum("_log_ratio"), 6).alias("log_weight"),
        )
    )


def cross_doc_ngram_overlap(
    docs: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 5,
) -> DataFrame:
    """(doc_id, n_grams, n_shared, shared_frac) — the fraction of a
    document's DISTINCT word ``n``-grams that also appear in at least
    one other document. The corpus-internal duplication signal
    (Dolma/RefinedWeb-style): boilerplate, templates, and partial
    copies score high; original prose scores low. Complements
    :func:`repetition_stats` (within-doc) and the span/winnowing tier
    (pairwise dedup) with a cheap PER-DOC score that needs no pair
    generation at all.

    Physical shape: one explode of per-doc distinct grams, one
    gram-keyed hash-aggregate (df per gram — counting rows IS counting
    documents because grams are per-doc distinct), re-joined to the
    occurrence stream on the gram key, one doc-keyed aggregate. Both
    aggregates ride partial map-side combines; there is no pairwise
    term anywhere, so cost is linear in total distinct-gram
    occurrences at any corpus size.

    ``occ`` is referenced twice in the one plan (the df aggregate and
    the rejoin) and deliberately NOT localCheckpointed: it is the
    corpus-scale gram stream, so a checkpoint writes more than the
    second explode costs — the ``dsir_importance`` deliberate-double-scan
    posture.
    """
    occ = (
        fan_out(docs, id_col)
        .select(
            F.col(id_col),
            F.explode(
                F.array_distinct(word_ngrams(text_col, n))
            ).alias("gram"),
        )
    )
    dfreq = occ.groupBy("gram").agg(F.count(F.lit(1)).alias("df"))
    return (
        occ.join(dfreq, "gram")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(
                F.when(F.col("df") > 1, 1).otherwise(0)
            ).alias("n_shared"),
        )
        .select(
            id_col,
            "n_grams",
            "n_shared",
            F.round(
                F.col("n_shared") / F.col("n_grams"), 6
            ).alias("shared_frac"),
        )
    )


def paragraph_dedup(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    sep: str = "\n\n",
) -> DataFrame:
    """Corpus-level PARAGRAPH dedup with REASSEMBLY — the Dolma recipe
    (Soldaini et al. 2024): boilerplate (nav strings, subscribe
    banners, license footers) repeats across millions of pages at
    paragraph granularity, below document dedup and above span stats.
    Split each document on ``sep``, keep only the GLOBALLY FIRST
    occurrence of each distinct paragraph (total order: document id,
    then position — deterministic and engine-portable), drop documents
    with no surviving paragraph, and reassemble survivors in original
    order. Returns ``(id, text, n_paras_kept)``.

    Plan shape for 100 TB: one generate (posexplode over the split —
    map-side), one window keyed on the PARAGRAPH HASH (the portable
    60-bit md5 — full paragraph text never becomes a shuffle KEY; the
    winner check compares ids, so an astronomically unlikely hash
    collision costs a dropped paragraph, never a wrong winner order),
    one id-keyed aggregate to reassemble. No joins, no all-pairs
    anything; the shuffle volume is the corpus itself once —
    the same bill document-level exact dedup pays.

    ``sep`` is treated as a LITERAL string on both sides: the split
    pattern escapes regex metacharacters so a separator like ``"||"``
    or ``"..."`` splits on the same boundaries ``concat_ws``
    reassembles on (r10 ADVICE: the unescaped form silently mis-split).
    """
    from pyspark.sql import Window

    # Escape only Java-regex metacharacters; non-special chars (incl.
    # literal newlines) stay as-is — a backslash before them would be
    # an invalid or surprising Java escape.
    sep_pattern = "".join(
        "\\" + c if c in ".$^{[(|)*+?\\" else c for c in sep
    )

    paras = docs.select(
        F.col(id_col).alias("id"),
        F.posexplode(
            F.split(F.col(text_col), sep_pattern)
        ).alias("pos", "para"),
    ).withColumn(
        "h", F.conv(F.substring(F.md5("para"), 1, 15), 16, 10).cast("bigint")
    )
    w = Window.partitionBy("h").orderBy("id", "pos")
    kept = (
        paras.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn", "h")
    )
    return (
        kept.groupBy("id")
        .agg(
            F.concat_ws(
                sep,
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("pos", "para"))
                    ),
                    lambda s: s["para"],
                ),
            ).alias("text"),
            F.count(F.lit(1)).alias("n_paras_kept"),
        )
        .select(F.col("id").alias(id_col), "text", "n_paras_kept")
    )


def url_dedup(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    url_col: str = "url",
    prefer_col: str | None = None,
) -> DataFrame:
    """URL-keyed crawl dedup over CANONICALIZED urls — the provenance
    twin of exact content dedup (RefinedWeb runs it before any content
    pass: re-crawls, mirror hosts, tracking-tagged share links and
    fragment variants are the same PAGE regardless of byte-identical
    text): canonicalize every url
    (:func:`..functions.text.canonicalize_url`), keep exactly one
    document per canonical url — the smallest ``id`` (first-crawled
    under monotone ids; deterministic and engine-portable). Returns the
    surviving rows plus ``canonical_url`` and ``n_dups`` (how many
    rows collapsed into the survivor — the re-crawl rate observable).
    With ``prefer_col``, the survivor is instead the row with the
    LARGEST value of that column (quality score, text length, crawl
    recency), ids breaking ties — the keep-best posture a production
    re-crawl pipeline wants (the newest fetch of a page usually
    supersedes the stale one).

    Plan shape for 100 TB: the canonicalization is a map-side codegen
    expression chain; the keep-first is ONE window keyed on the
    portable 60-bit md5 of the canonical url (the full url string
    never becomes a shuffle KEY — the paragraph_dedup discipline), so
    the corpus shuffles once on 8-byte keys. A hash collision costs a
    spuriously dropped page at ~2^-60 per pair, never a wrong winner
    order (the winner rank compares ids)."""
    from pyspark.sql import Window

    from ..functions.text import canonicalize_url

    canon = docs.withColumn("canonical_url", canonicalize_url(url_col))
    canon = canon.withColumn(
        "_uh",
        F.conv(
            F.substring(F.md5("canonical_url"), 1, 15), 16, 10
        ).cast("bigint"),
    )
    if prefer_col is not None:
        w = Window.partitionBy("_uh").orderBy(
            F.col(prefer_col).desc(), F.col(id_col)
        )
    else:
        w = Window.partitionBy("_uh").orderBy(id_col)
    return (
        canon.withColumn("rn", F.row_number().over(w))
        .withColumn("n_dups", F.count(F.lit(1)).over(
            Window.partitionBy("_uh")
        ))
        .filter(F.col("rn") == 1)
        .drop("rn", "_uh")
    )


def domain_blocklist_filter(
    docs: DataFrame,
    blocklist: DataFrame,
    *,
    url_col: str = "url",
    domain_col: str = "domain",
    broadcast_blocklist: bool = True,
) -> DataFrame:
    """Domain-blocklist filtering on LABEL-BOUNDARY suffix match — the
    RefinedWeb/UT1-class URL hygiene stage next to
    :func:`url_dedup`: a document is dropped when its url's host OR
    ANY PARENT DOMAIN of it appears in the blocklist
    (``ads.tracker.net`` is blocked by a ``tracker.net`` entry), and
    suffixes are whole dot-separated labels only (``nottracker.net``
    is NOT blocked by ``tracker.net`` — the false positive a substring
    match would produce). Returns the surviving rows with the matched
    ``host`` column added.

    Blocklist entries are normalized (lowercased + trimmed) before the
    join — published lists (UT1-class) carry no case/whitespace
    guarantee, and an unnormalized entry would silently never block
    (r11 ADVICE).

    Plan shape for 100 TB: host extraction is map-side codegen; each
    doc explodes into its ≤ label-count domain suffixes (a handful of
    short rows — never the url, never the text) and anti-joins the
    blocklist. A UT1-scale list (a few M short strings) still fits a
    broadcast (the default hint); pass ``broadcast_blocklist=False``
    beyond broadcast scale and the join degrades to an AQE-planned
    shuffle on the 8-byte-hashable suffix, with the corpus side
    carrying only (id, suffix). The text column rides the final
    anti-join only."""
    host = F.lower(
        F.regexp_extract(
            F.col(url_col), r"^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)", 1
        )
    )
    host = F.regexp_replace(host, r":[0-9]+$", "")
    with_host = docs.withColumn("host", host)
    parts = F.split(F.col("host"), r"\.")
    suffixes = F.transform(
        F.sequence(F.lit(1), F.size(parts)),
        lambda i: F.array_join(F.slice(parts, i, F.size(parts)), "."),
    )
    sufs = with_host.select(
        F.col("host").alias("_h"),
        F.explode(suffixes).alias("_suffix"),
    ).distinct()
    # \s-strip, not F.trim: published lists pad with tabs too, and
    # F.trim removes only ASCII spaces
    bl = blocklist.select(
        F.lower(
            F.regexp_replace(F.col(domain_col), r"^\s+|\s+$", "")
        ).alias("_suffix")
    )
    if broadcast_blocklist:
        bl = F.broadcast(bl)
    blocked_hosts = sufs.join(bl, "_suffix").select(
        F.col("_h").alias("host")
    ).distinct()
    return with_host.join(blocked_hosts, "host", "left_anti")


def token_budget_select(
    docs: DataFrame,
    *,
    budget: int,
    score_col: str = "score",
    tokens_col: str = "n_tokens",
    id_col: str = "doc_id",
    n_buckets: int | None = None,
    max_bucket_rows: int = 1_000_000,
) -> DataFrame:
    """Greedy corpus selection under a TOKEN BUDGET: keep documents in
    (``score`` DESC, ``id`` ASC) order while the running token total
    stays within ``budget`` — the "take the best docs until N tokens"
    step every published data-mixing recipe ends with once quality
    scores exist. PREFIX-greedy semantics, exact: selection STOPS at
    the first document that would overflow the budget (ties break on
    id) — the "truncate at N tokens" recipe, expressible as one
    running-sum cut; the skip-and-continue knapsack variant is
    deliberately out of scope (sequentially dependent — not a window).
    Pytest-pinned against a pure-Python reference.

    Plan shape for 100 TB — deliberately NOT the naive
    ``SUM() OVER (ORDER BY score DESC)``, which plans a single-
    partition window (one task sees the whole corpus): instead
    (1) docs are range-bucketed on score via approxQuantile splits
    (equal scores always share a bucket, so bucket boundaries can
    never split a tie group and greedy order is preserved);
    (2) ONE hash-agg computes per-bucket token sums; the ~``n_buckets``
    rows come to the driver, where the cumulative scan finds the
    THRESHOLD bucket;
    (3) strictly-better buckets are kept wholesale (a pushed-down
    filter), and only the threshold bucket — ~1/``n_buckets`` of the
    corpus — pays an exact sort + running sum for the boundary cut.
    Total: one narrow agg + one small single-partition window instead
    of a corpus-wide serial scan. ``budget >= total`` short-circuits
    to the input.

    ``n_buckets`` defaults to SCALING WITH THE CORPUS (r11 verdict):
    ``max(64, ceil(n_rows / max_bucket_rows))``, so the threshold
    bucket's single-task sort is bounded by ~``max_bucket_rows`` rows
    at any corpus size instead of growing as corpus/64 — at 100 TB the
    boundary cut stays a one-executor-sized task by construction. The
    bound is approximate, not absolute: quantile estimation error adds
    ~0.1% slack, and a tie group larger than a bucket must share one
    bucket (ties are indivisible under deterministic greedy order — a
    corpus scored by a constant degenerates to the serial scan, the
    honest worst case of ANY order-exact selection).

    NULL scores sort LAST (``DESC NULLS LAST`` on both engines) and
    bucket PAST the worst finite bucket (r11 ADVICE: the naive
    when-chain sent NULL comparisons to bucket 0, selecting unscored
    docs ahead of every scored one), so they are taken only after
    every scored doc fits."""
    from pyspark.sql import Window

    score = F.col(score_col)
    # (1) score splits; approx is fine — buckets only partition work,
    # never change the greedy order (equal scores always compare
    # identically against every split, so a tie group can never be
    # divided). Quantiles ignore NULLs; NULL scores get the sentinel
    # bucket AFTER the worst finite one.
    #
    # ONE driver action for auto-sizing (r12 verdict #5 — the old path
    # spent a count() action AND an approxQuantile action before the
    # real job, two extra full scans of the projection at 100 TB):
    # count and a FIXED fine quantile grid come back in a single agg
    # row; n_buckets derives from the count and its splits are read
    # off the grid (grid index round(i*M/n_buckets) is the i/n_buckets
    # quantile to within 1/(2M) of rank — the bucket-size bound is
    # approximate anyway, see above). Only a corpus past
    # M*max_bucket_rows rows (~1G at the defaults) pays a second,
    # exact-resolution quantile pass — at which point two scans is
    # what the OLD code always paid.
    _GRID = 1024
    if n_buckets is None:
        row = docs.agg(
            F.count(F.lit(1)).alias("n"),
            F.percentile_approx(
                score, [i / _GRID for i in range(1, _GRID)], 10_000
            ).alias("q"),
        ).first()
        n_buckets = max(64, -(-row["n"] // max_bucket_rows))
        if n_buckets <= _GRID:
            grid = row["q"] or []
            splits = sorted(
                {
                    grid[round(i * _GRID / n_buckets) - 1]
                    for i in range(1, n_buckets)
                    if grid
                }
                - {None}
            )
        else:
            splits = sorted(
                set(
                    docs.stat.approxQuantile(
                        score_col,
                        [i / n_buckets for i in range(1, n_buckets)],
                        0.001,
                    )
                )
            )
    else:
        splits = sorted(
            set(
                docs.stat.approxQuantile(
                    score_col,
                    [i / n_buckets for i in range(1, n_buckets)],
                    0.001,
                )
            )
        )
    # bucket index = number of splits at or above the score (higher score
    # -> LOWER index), as ONE expression: a per-split when-chain nests
    # ~n_buckets deep and overflows the JVM stack past ~700 splits
    finite = (
        F.size(F.filter(F.array(*map(F.lit, splits)), lambda s: score <= s))
        if splits
        else F.lit(0)
    )
    bucket = F.when(score.isNull(), F.lit(len(splits) + 1)).otherwise(
        finite
    )
    ranked = docs.withColumn("_b", bucket)
    # (2) per-bucket token sums -> driver-side cumulative scan
    totals = {
        r["_b"]: r["t"]
        for r in ranked.groupBy("_b")
        .agg(F.sum(tokens_col).alias("t"))
        .collect()
    }
    cum = 0
    threshold_bucket = None
    remaining = budget
    for b in sorted(totals):
        if cum + totals[b] > budget:
            threshold_bucket = b
            remaining = budget - cum
            break
        cum += totals[b]
    if threshold_bucket is None:
        return docs  # whole corpus fits the budget
    whole = ranked.filter(F.col("_b") < threshold_bucket).drop("_b")
    # (3) exact boundary inside the threshold bucket only
    w = (
        Window.orderBy(score.desc_nulls_last(), F.col(id_col))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    edge = (
        ranked.filter(F.col("_b") == threshold_bucket)
        .withColumn("_cum", F.sum(tokens_col).over(w))
        .filter(F.col("_cum") <= F.lit(remaining))
        .drop("_b", "_cum")
    )
    return whole.unionAll(edge)


def unicode_normalize_docs(
    docs: DataFrame,
    *,
    text_col: str = "text",
    form: str = "NFKC",
    strip_zero_width: bool = True,
) -> DataFrame:
    """EXACT unicode normalization of a document column — the Arrow tier
    of the r14 unicode-normalization stage (r13 verdict What's-missing
    #1). In a multilingual crawl, NFC-vs-NFD byte variants, full-width
    forms, ligatures, and zero-width characters make byte-DIFFERENT
    copies of the same text, and every exact tier here keys on the
    raw-byte md5 (exact dedup, paragraph dedup, span removal) —
    published pipelines (CCNet, Dolma, Gopher
    preprocessing) therefore normalize FIRST. Run this in front of any
    fingerprint consumer; the pure-Catalyst sibling for the common
    compat planes is :func:`...functions.text.fold_unicode_compat`.

    Semantics: zero-width strip (ZWSP/ZWNJ/ZWJ/word-joiner/BOM/soft
    hyphen — NFC/NFKC keep all six, so the strip runs FIRST, letting a
    mark sequence interrupted by invisible junk recompose) then
    ``unicodedata.normalize(form, text)``. NULL text passes through
    NULL; every non-text column passes through untouched.

    Scale shape (the 100 TB bill): unicode normalization is a
    many-thousand-entry mapping TABLE plus composition logic — the
    r13 punycode argument says that is an ALGORITHM, not a Catalyst
    expression. But unlike punycode's xn-- minority, text touches
    EVERY row, so the Arrow hop is gated JVM-side: a codegen
    ``rlike('[^\\x00-\\x7F]')`` splits the frame, the pure-ASCII
    majority (NF*-closed and containing none of the stripped
    characters — the skip is EXACT, not approximate) never leaves the
    JVM, and only the non-ASCII minority crosses Arrow into one
    self-contained mapInPandas kernel (stdlib ``unicodedata``, C
    implementation). Both branches are map-only — no shuffle anywhere;
    the union is a plan-level concatenation. NOTE the split's cost
    model (r14 verdict): the complementary filters plan TWO SCANS of
    the input (and evaluate the detector on each), not one shared
    scan. Over a raw parquet source that is a second pruned columnar
    read — cheap, and what the bench lines price. Over an EXPENSIVE
    DERIVED upstream (an html_to_text output, a join) the upstream
    would recompute once per branch: ``persist()`` or
    ``localCheckpoint()`` such an input before calling this, the same
    rule the iterative operators follow. On an ASCII-heavy English
    crawl the Python bill is the non-ASCII slice alone; on a
    fully-CJK corpus it degrades gracefully to one Arrow pass, which
    is the floor any exact implementation pays.
    """
    import unicodedata

    if form not in ("NFC", "NFKC", "NFD", "NFKD"):
        raise ValueError(f"unknown unicode normalization form: {form!r}")
    txt = F.col(text_col)
    needs = txt.isNotNull() & txt.rlike("[^\\x00-\\x7F]")
    clean = docs.filter(~F.coalesce(needs, F.lit(False)))
    dirty = docs.filter(needs)

    def _kernel_factory(form: str, strip_zw: bool, text_col: str):
        # self-contained: ships by VALUE to bare python workers (no
        # repo on worker sys.path — the round-7 cloudpickle gotcha)
        def _kernel(batches):
            import re
            import unicodedata

            zw = re.compile("[\\u200b\\u200c\\u200d\\u2060\\ufeff\\u00ad]")

            def _norm(t):
                if t is None:
                    return t
                if strip_zw:
                    t = zw.sub("", t)
                return unicodedata.normalize(form, t)

            for pdf in batches:
                pdf[text_col] = pdf[text_col].map(_norm)
                yield pdf

        return _kernel

    normalized = dirty.mapInPandas(
        _kernel_factory(form, strip_zero_width, text_col), docs.schema
    )
    return clean.unionByName(normalized)
