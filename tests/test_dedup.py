"""Quality tests for the approximate dedup family: behavior pinned against
the exact operators in BOTH hash modes. (The portable md5 mode is also
oracle-checked end-to-end by the harness; the xxhash64 fast path has no SQL
twin, so these tests are its correctness gate.)
"""

from __future__ import annotations

from pyspark.sql import functions as F

from airflow_etl_finance_market_spark.operators.dedup import (
    dedup_exact,
    minhash_dedup_pairs,
    ngram_jaccard_pairs,
    simhash_near_pairs,
)
from airflow_etl_finance_market_spark.sources.readers import load_fixture


def _docs(spark, sf_dir):
    return load_fixture(spark, sf_dir, "documents")


import pytest


@pytest.mark.parametrize("hash_mode", ["xxhash64", "portable"])
def test_minhash_pairs_subset_of_exact(spark, sf_dir, hash_mode):
    """Verified MinHash pairs must be exactly-Jaccard-filtered (precision 1.0
    by construction) and should recover the high-similarity planted dups —
    in BOTH hash modes (the portable mode is additionally oracle-checked
    end-to-end by the harness)."""
    docs = _docs(spark, sf_dir)
    exact = {
        (r["id_a"], r["id_b"]): r["jaccard_sim"]
        for r in ngram_jaccard_pairs(docs, block_col="lang", threshold=0.1).collect()
    }
    mh = {
        (r["id_a"], r["id_b"]): r["jaccard_sim"]
        for r in minhash_dedup_pairs(
            docs, threshold=0.1, hash_mode=hash_mode
        ).collect()
    }
    # precision: every minhash pair is a true >=0.1 pair (note: minhash is
    # UNblocked, so it may legitimately find cross-lang pairs exact missed;
    # verify its jaccard values instead of strict subset)
    for pair, sim in mh.items():
        assert sim >= 0.1
    # recall on the strong pairs (planted near-dups, jaccard >= 0.5)
    strong = {p for p, s in exact.items() if s >= 0.5}
    found = strong & set(mh)
    assert len(found) >= max(1, int(0.8 * len(strong))), (
        f"minhash missed planted dups: {strong - set(mh)}"
    )


@pytest.mark.parametrize("hash_mode", ["xxhash64", "portable"])
def test_simhash_finds_planted_dups(spark, sf_dir, hash_mode):
    """4-block LSH guarantees recall only for signature-hamming < n_blocks
    (pigeonhole); beyond that it is a high-recall heuristic. Assert exactly
    that contract: (a) the guarantee band is exact, (b) heuristic recall on
    planted jaccard>=0.8 dups stays above a floor, (c) verify is precise."""
    from airflow_etl_finance_market_spark.operators.dedup import (
        simhash_signatures,
    )

    docs = _docs(spark, sf_dir)
    strong = {
        (r["id_a"], r["id_b"])
        for r in ngram_jaccard_pairs(docs, block_col="lang", threshold=0.1).collect()
        if r["jaccard_sim"] >= 0.8
    }
    sh16 = {
        (r["id_a"], r["id_b"])
        for r in simhash_near_pairs(
            docs, max_hamming=16, hash_mode=hash_mode
        ).collect()
    }
    # (a) exact-guarantee band: every pair within hamming <= 3 MUST be found
    sigs = {r["id"]: r["simhash"] for r in simhash_signatures(
        docs, hash_mode=hash_mode
    ).collect()}
    for (ia, ib) in strong:
        if bin(sigs[ia] ^ sigs[ib]).count("1") <= 3:
            assert (ia, ib) in sh16, f"guaranteed pair ({ia},{ib}) missed"
    # (b) heuristic recall floor on the planted near-dups
    if strong:
        recall = len(strong & sh16) / len(strong)
        assert recall >= 0.75, f"simhash recall {recall}: missed {strong - sh16}"
    # widening the exact band via n_blocks=17 (pigeonhole covers hamming<=16)
    # must recover EVERY strong pair whose true hamming is <= 16
    sh_wide = {
        (r["id_a"], r["id_b"])
        for r in simhash_near_pairs(
            docs, max_hamming=16, hash_mode=hash_mode, n_blocks=17
        ).collect()
    }
    for (ia, ib) in strong:
        if bin(sigs[ia] ^ sigs[ib]).count("1") <= 16:
            assert (ia, ib) in sh_wide, f"wide-band pair ({ia},{ib}) missed"
    # (c) near-identical docs must have tiny hamming distance
    for r in simhash_near_pairs(docs, max_hamming=2, hash_mode=hash_mode).collect():
        assert r["hamming"] <= 2


def test_dedup_exact_survivors(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    survivors = dedup_exact(docs)
    n_fp = docs.select(
        F.md5(
            F.trim(F.regexp_replace(F.lower("text"), r"\s+", " ")).cast("binary")
        ).alias("fp")
    ).distinct().count()
    assert survivors.count() == n_fp
    # idempotent: dedup of the dedup changes nothing
    assert dedup_exact(survivors).count() == n_fp


def test_minhash_portable_same_plan_shape_as_fast_path(spark, sf_dir):
    """The portable md5 hash must change only the hash expressions, never
    the physical strategy: same Exchange count, still SMJ on band buckets,
    no broadcast of the corpus (the fast path's pinned shape)."""
    docs = _docs(spark, sf_dir)

    def plan(hash_mode):
        df = minhash_dedup_pairs(docs, threshold=0.1, hash_mode=hash_mode)
        return df._jdf.queryExecution().executedPlan().toString()

    fast, portable = plan("xxhash64"), plan("portable")
    assert fast.count("Exchange") == portable.count("Exchange")
    assert fast.count("SortMergeJoin") == portable.count("SortMergeJoin")
    assert ("BroadcastHashJoin" in fast) == ("BroadcastHashJoin" in portable)


class TestBlockJoinPairs:
    """The block-LSH pair join under simhash_near_pairs, driven with
    hand-built 64-bit signatures."""

    @staticmethod
    def _pairs(spark, rows, *, max_hamming, n_blocks):
        from airflow_etl_finance_market_spark.operators.dedup import (
            _block_join_pairs,
        )

        sigs = spark.createDataFrame(rows, "id long, simhash long")
        return {
            (r.id_a, r.id_b, r.hamming)
            for r in _block_join_pairs(
                sigs, max_hamming=max_hamming, n_bits=64, n_blocks=n_blocks
            ).collect()
        }

    def test_pigeonhole_recall_is_exact_within_block_bound(self, spark):
        """For max_hamming <= n_blocks - 1 the block join is an EXACT
        candidate generator: every pair within the bound must surface,
        for every choice of which bits differ."""
        base = 0x0123_4567_89AB_CDEF
        rows = [(0, base)]
        # flip 3 bits spread across three different blocks
        rows.append((1, base ^ (1 << 2) ^ (1 << 20) ^ (1 << 40)))
        # flip 3 bits all inside ONE block (others must still match)
        rows.append((2, base ^ 0b111 << 17))
        # 5 bits > max_hamming: excluded even though blocks collide
        rows.append((3, base ^ (0b11111 << 30)))
        got = self._pairs(spark, rows, max_hamming=3, n_blocks=4)
        assert (0, 1, 3) in got
        assert (0, 2, 3) in got
        assert not any(3 in (a, b) for a, b, _ in got)

    def test_signed_longs_block_split_is_unsigned(self, spark):
        """Hashes stored as NEGATIVE bigints (bit 63 set) must block-split
        with shiftrightunsigned semantics — a sign-extending shift would
        put equal high blocks in different buckets."""
        top = -(1 << 63)  # only bit 63 set
        rows = [(0, top), (1, top ^ 1)]  # hamming 1, high block equal
        got = self._pairs(spark, rows, max_hamming=1, n_blocks=2)
        assert got == {(0, 1, 1)}


class TestWinnowFingerprints:
    def test_shared_excerpt_guarantee(self, spark):
        """Winnowing guarantee: documents sharing a run of >= window+ngram-1
        tokens must share at least one fingerprint; disjoint docs share none."""
        from airflow_etl_finance_market_spark.operators.dedup import (
            winnow_fingerprints,
        )

        excerpt = "alpha beta gamma delta epsilon zeta eta theta"
        docs = spark.createDataFrame(
            [
                (1, f"intro one two {excerpt} closing words here"),
                (2, f"totally different opening {excerpt} and another tail"),
                (3, "nothing in common with the others at all whatsoever"),
            ],
            "doc_id long, text string",
        )
        fps = winnow_fingerprints(docs, ngram=3, window=4).collect()
        by_doc = {}
        for r in fps:
            by_doc.setdefault(r["doc_id"], set()).add(r["fp"])
        assert by_doc[1] & by_doc[2], "shared excerpt produced no common fp"
        assert not (by_doc[1] & by_doc[3])
        assert not (by_doc[2] & by_doc[3])

    def test_short_doc_still_fingerprinted(self, spark):
        from airflow_etl_finance_market_spark.operators.dedup import (
            winnow_fingerprints,
        )

        docs = spark.createDataFrame(
            [(1, "just two"), (2, "one")], "doc_id long, text string"
        )
        fps = winnow_fingerprints(docs, ngram=3, window=4).collect()
        assert {r["doc_id"] for r in fps} == {1, 2}

    def test_deterministic_across_partitioning(self, spark, sf_dir):
        from airflow_etl_finance_market_spark.operators.dedup import (
            winnow_fingerprints,
        )
        from airflow_etl_finance_market_spark.sources.readers import (
            load_fixture,
        )

        docs = load_fixture(spark, sf_dir, "documents")
        a = sorted(map(tuple, winnow_fingerprints(docs.limit(50)).collect()))
        b = sorted(
            map(
                tuple,
                winnow_fingerprints(docs.limit(50).repartition(9)).collect(),
            )
        )
        assert a == b


class TestIncrementalProbe:
    def test_probe_equals_batch_pipeline_cross_pairs(self, spark, sf_dir):
        """Index+probe must find exactly the (new, corpus) near-dup pairs
        the batch pipeline finds over corpus ∪ new — the contract that lets
        a 100 TB corpus be signed once and probed per crawl."""
        from airflow_etl_finance_market_spark.operators.dedup import (
            minhash_dedup_pairs,
            minhash_index,
            minhash_probe,
        )
        from airflow_etl_finance_market_spark.sources.readers import (
            load_fixture,
        )
        from pyspark.sql import functions as F

        corpus = load_fixture(spark, sf_dir, "documents")
        # new batch: perturbed near-dups of three corpus docs + one
        # unrelated doc, ids offset far above the corpus range
        base = {
            r["doc_id"]: r["text"]
            for r in corpus.filter(F.col("doc_id") < 3).collect()
        }
        new_rows = [
            (1_000_000 + i, f"{t} trailing revision marker")
            for i, t in base.items()
        ] + [(1_999_999, "entirely unrelated gibberish tokens qqq www eee")]
        new = spark.createDataFrame(new_rows, "doc_id long, text string")

        idx = minhash_index(corpus).persist()
        got = {
            (r["new_id"], r["corpus_id"])
            for r in minhash_probe(new, idx, corpus, threshold=0.1).collect()
        }
        idx.unpersist()

        both = minhash_dedup_pairs(
            corpus.select("doc_id", "text").unionByName(new), threshold=0.1
        ).collect()
        expect = {
            (b, a) if b >= 1_000_000 else (a, b)
            for a, b in ((r["id_a"], r["id_b"]) for r in both)
            if (a >= 1_000_000) != (b >= 1_000_000)
        }
        assert got == expect
        # every planted near-dup found, the gibberish doc matched nothing
        assert {n for n, _ in got} == {1_000_000 + i for i in base}


class TestMinhashContainment:
    def test_values_exact_and_recalls_planted_subset(self, spark):
        """Every emitted containment equals the exact set computation, and
        a planted doc sharing most of its text with a larger doc (high
        Jaccard AND high containment) is recalled through LSH."""
        from airflow_etl_finance_market_spark.operators.dedup import (
            minhash_containment_pairs,
            ngram_containment_pairs,
        )

        base = "alpha beta gamma delta epsilon zeta eta theta " * 6
        docs = spark.createDataFrame(
            [
                (1, base + "iota kappa"),
                (2, base + "iota kappa lambda"),   # near-identical superset
                (3, "totally different words entirely " * 8),
            ],
            "doc_id long, text string",
        ).withColumn("lang", F.lit("en"))
        lsh = {
            (r.id_contained, r.id_container): r.containment
            for r in minhash_containment_pairs(docs, threshold=0.5).collect()
        }
        exact = {
            (r.id_contained, r.id_container): r.containment
            for r in ngram_containment_pairs(docs, threshold=0.5).collect()
        }
        assert (1, 2) in lsh
        for pair, v in lsh.items():
            assert pair in exact and abs(v - exact[pair]) < 1e-9


class TestDuplicateSpans:
    def test_matches_python_replay(self, spark):
        from airflow_etl_finance_market_spark.operators.dedup import (
            duplicate_span_stats,
        )

        boiler = "all rights reserved contact the publisher for permission"
        docs = [
            (1, f"alpha beta gamma {boiler} one two three"),
            (2, f"delta epsilon {boiler} four five six seven"),
            (3, "entirely unique text with no shared spans at all here"),
            (4, "short doc"),  # shorter than the span -> one whole-text span
            (5, "short doc"),  # exact twin of 4: its single span duplicates
        ]
        df = spark.createDataFrame(docs, "doc_id long, text string")
        k = 5
        got = {
            r.doc_id: (r.n_spans, r.n_dup_spans, r.dup_ratio)
            for r in duplicate_span_stats(df, span_tokens=k).collect()
        }

        # python reference
        def spans(text):
            toks = text.lower().split()
            if len(toks) < k:
                return [" ".join(toks)]
            return [
                " ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)
            ]

        all_spans = {i: spans(t) for i, t in docs}
        from collections import defaultdict

        owners = defaultdict(set)
        for i, ss in all_spans.items():
            for s in ss:
                owners[s].add(i)
        expect = {}
        for i, ss in all_spans.items():
            dup = sum(1 for s in ss if len(owners[s]) >= 2)
            expect[i] = (len(ss), dup, round(dup / len(ss), 6))
        assert got == expect
        # the boilerplate-sharing docs are flagged, the unique doc is not
        assert got[3][1] == 0 and got[1][1] > 0 and got[5] == (1, 1, 1.0)

    def test_one_pass_hashed_span_plan(self, spark, sf_dir):
        """Scale contract: the span explode (the heavy ~1-row-per-token
        frame) is evaluated ONCE — exactly one Generate in the plan —
        spans travel as the fixed-width xxhash64 pair (r15: 2x64 bits,
        the md5-era collision posture at a tenth of the hash cost),
        and the distinct-doc cardinality rides a window, not a join
        back over the span frame. The span exchange keys on the hash
        pair alone (two exchanges total: hash pair, then doc)."""
        import re

        from airflow_etl_finance_market_spark import harness

        df = harness.queries()["doc_duplicate_spans"](spark, sf_dir)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert plan.count("Generate") == 1
        assert "Window" in plan
        assert "Join" not in plan
        opt = df._jdf.queryExecution().optimizedPlan().toString()
        assert "xxhash64" in opt
        shuffles = re.findall(r"Exchange hashpartitioning\(([^)]+)\)", plan)
        h_keyed = [s for s in shuffles if "h1#" in s]
        assert len(h_keyed) == 1, shuffles
        assert "doc_id#" not in h_keyed[0], shuffles


class TestDuplicateSpanRemoval:
    def _replay(self, docs, k, min_docs=2):
        """Python replay of the removal contract (operators/dedup.py):
        duplicated span (>= min_docs distinct docs), global-first
        survivor, token removed iff covered by a non-survivor
        occurrence and by no survivor occurrence."""
        from collections import defaultdict

        toks = {i: t.lower().split() for i, t in docs}
        occ = []  # (doc, 1-based start, span, cover_end)
        for i, ts in sorted(toks.items()):
            n = len(ts)
            if n < k:
                occ.append((i, 1, " ".join(ts), n))
            else:
                for p in range(1, n - k + 2):
                    occ.append((i, p, " ".join(ts[p - 1 : p - 1 + k]), p + k - 1))
        owners = defaultdict(set)
        for i, p, s, e in occ:
            owners[s].add(i)
        dup = {s for s, o in owners.items() if len(o) >= min_docs}
        surv = {}
        for i, p, s, e in sorted(occ):
            if s in dup and s not in surv:
                surv[s] = (i, p)
        ns, sv = defaultdict(set), defaultdict(set)
        for i, p, s, e in occ:
            if s not in dup:
                continue
            target = sv if surv[s] == (i, p) else ns
            target[i].update(range(p, e + 1))
        out = {}
        for i, ts in toks.items():
            rm = ns[i] - sv[i]
            kept = [t for j, t in enumerate(ts, 1) if j not in rm]
            out[i] = (" ".join(kept), len(kept), len(rm))
        return out

    def test_no_dup_exact_reconstruction(self, spark):
        from airflow_etl_finance_market_spark.operators.dedup import (
            duplicate_span_removal,
        )

        docs = [
            (1, "Entirely unique   text with EXTRA spacing and case"),
            (2, "another document that shares nothing with the first"),
            (3, "tiny"),
        ]
        df = spark.createDataFrame(docs, "doc_id long, text string")
        got = {
            r.doc_id: (r.text, r.n_tokens_kept, r.n_tokens_removed)
            for r in duplicate_span_removal(df, span_tokens=4).collect()
        }
        # nothing duplicated -> every doc reconstructs to its NORMALIZED
        # text exactly, zero tokens removed
        import re

        for i, t in docs:
            norm = re.sub(r"\s+", " ", t.lower()).strip()
            assert got[i] == (norm, len(norm.split()), 0)

    def test_matches_python_replay(self, spark):
        from airflow_etl_finance_market_spark.operators.dedup import (
            duplicate_span_removal,
        )

        boiler = "all rights reserved contact the publisher"
        docs = [
            # global first occurrence: keeps the boilerplate
            (1, f"alpha beta {boiler} gamma delta"),
            # later copies: lose exactly the boilerplate stretch
            (2, f"epsilon {boiler} zeta eta theta"),
            (3, f"{boiler}"),  # nothing but boilerplate -> empty text
            # two occurrences in one doc, both non-surviving
            (4, f"{boiler} {boiler} iota kappa"),
            (5, "entirely unique text with no shared spans at all"),
            # OVERLAP: survivor coverage protects tokens even where a
            # non-survivor occurrence of ANOTHER dup span covers them
            (6, "one two three four five six seven"),
            (7, "one two three four five six seven"),
        ]
        df = spark.createDataFrame(docs, "doc_id long, text string")
        k = 6
        got = {
            r.doc_id: (r.text, r.n_tokens_kept, r.n_tokens_removed)
            for r in duplicate_span_removal(df, span_tokens=k).collect()
        }
        assert got == self._replay(docs, k)
        # spot semantics: first copy intact, later copy cut, all-boiler
        # doc emptied, unique doc untouched
        assert boiler in got[1][0]
        assert boiler not in got[2][0]
        assert got[2][0] == "epsilon zeta eta theta"
        assert got[3] == ("", 0, 6)
        assert got[5][2] == 0

    def test_single_span_shuffle_plan(self, spark):
        """Scale contract: the span stream shuffles ONCE — doc-first
        marking, survivorship, and distinct-doc cardinality all ride
        windows keyed on (h) alone over one h-clustered exchange (no
        self-join of the span frame back onto itself, and no second
        corpus shuffle from a (h, id)-keyed window when the input
        isn't id-clustered)."""
        from airflow_etl_finance_market_spark.operators.dedup import (
            duplicate_span_removal,
        )

        df = spark.createDataFrame(
            [(1, "a b c d e f"), (2, "a b c d e g")], "doc_id long, text string"
        )
        plan = (
            duplicate_span_removal(df, span_tokens=3)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        # windows, not a span-frame self-join
        assert plan.count("Window") >= 2
        # the span stream shuffles ONCE, keyed on the span-hash pair
        # (h1, h2) ALONE: a second hash-keyed exchange (or an
        # (h, id)-keyed one) is the regression where the doc-first
        # window anchors to hashpartitioning(h.., id) and the
        # hash-only windows force a re-shuffle. The other exchanges
        # are id-keyed (coverage aggregate + reassembly SMJ —
        # corpus-sized by necessity; AQE broadcasts the small side
        # at runtime).
        import re

        shuffles = re.findall(
            r"Exchange hashpartitioning\(([^)]+)\)", plan
        )
        h_keyed = [s for s in shuffles if "h1#" in s]
        assert len(h_keyed) == 1, shuffles
        assert "h2#" in h_keyed[0], shuffles
        assert "id#" not in h_keyed[0], shuffles

    def test_preserve_original_and_full_exactsubstr_mode(self, spark):
        from airflow_etl_finance_market_spark.operators.dedup import (
            duplicate_span_removal,
        )

        boiler = "All Rights Reserved Contact The Publisher"
        docs = [
            (1, f"Alpha BETA {boiler} Gamma delta"),
            (2, f"Epsilon  {boiler}   zeta Eta THETA"),  # ragged spacing
        ]
        df = spark.createDataFrame(docs, "doc_id long, text string")
        got = {
            r.doc_id: r.text
            for r in duplicate_span_removal(
                df, span_tokens=6, preserve="original"
            ).collect()
        }
        # matching is case-insensitive (normalized spans), the CUT text
        # keeps ORIGINAL casing; inter-token whitespace canonicalizes
        assert got[1] == f"Alpha BETA {boiler} Gamma delta"
        assert got[2] == "Epsilon zeta Eta THETA"

        # intra-doc repetition is DELIBERATELY untouched (docstring
        # pin): the rotated spans around an in-doc repeat are each
        # their own first occurrence, so survivor protection covers
        # the repeated tokens even at min_docs=1 — exact in-doc repeat
        # removal is suffix-array territory, out of this kernel
        rep = spark.createDataFrame(
            [(1, "one two three four one two three four tail")],
            "doc_id long, text string",
        )
        for md in (1, 2):
            row = duplicate_span_removal(
                rep, span_tokens=4, min_docs=md
            ).first()
            assert row.n_tokens_removed == 0

        import pytest as _pytest

        with _pytest.raises(ValueError):
            duplicate_span_removal(rep, preserve="bytes")

    def test_null_text_treated_as_empty(self, spark):
        """NULL text rows (r14, r13 ADVICE): under the default non-ANSI
        config size(NULL) is -1, so an unguarded NULL row used to emit
        n_tokens_kept = -1 — a nonsense count a caller summing kept
        tokens silently absorbs. NULL now folds to '' and follows the
        pinned empty-string degenerate contract (one empty token,
        whole-text span)."""
        from airflow_etl_finance_market_spark.operators.dedup import (
            duplicate_span_removal,
        )

        df = spark.createDataFrame(
            [(1, None), (2, "alpha beta gamma delta epsilon")],
            "doc_id long, text string",
        )
        got = {
            r.doc_id: (r.text, r.n_tokens_kept, r.n_tokens_removed)
            for r in duplicate_span_removal(df, span_tokens=3).collect()
        }
        # the lone NULL doc behaves exactly like a lone '' doc: its
        # degenerate span is unduplicated, counts are NON-NEGATIVE
        assert got[1] == ("", 1, 0)
        assert got[2][2] == 0
        # two NULL docs duplicate EACH OTHER's degenerate span: the
        # first survives its (empty) token, the later copy loses it —
        # same survivor arithmetic as any other whole-text dup
        df2 = spark.createDataFrame(
            [(1, None), (2, None), (3, "")], "doc_id long, text string"
        )
        got2 = {
            r.doc_id: (r.text, r.n_tokens_kept, r.n_tokens_removed)
            for r in duplicate_span_removal(df2, span_tokens=3).collect()
        }
        assert got2[1] == ("", 1, 0)
        assert got2[2] == ("", 0, 1)
        assert got2[3] == ("", 0, 1)

    def test_span_removal_long_boilerplate_page_bound(self, spark):
        """The reassembly membership filter is O(tokens x removed) in
        ONE row (docstring bound): MEASURE the documented worst-ish
        case — a long page that is half duplicated boilerplate — so
        the per-row ceiling is a number, not an assumption. 10k-token
        docs, ~5k removed positions ≈ 5x10^7 comparisons in one task;
        the docstring line is drawn at ~10^8."""
        import time

        from airflow_etl_finance_market_spark.operators.dedup import (
            duplicate_span_removal,
        )

        half = 5000
        boiler = " ".join(f"b{i}" for i in range(half))
        docs = [
            (1, boiler + " " + " ".join(f"u{i}" for i in range(half))),
            (2, boiler + " " + " ".join(f"v{i}" for i in range(half))),
        ]
        df = spark.createDataFrame(docs, "doc_id long, text string")
        t0 = time.monotonic()
        got = {
            r.doc_id: (r.n_tokens_kept, r.n_tokens_removed)
            for r in duplicate_span_removal(df, span_tokens=10).collect()
        }
        wall = time.monotonic() - t0
        # doc 1 holds every span's first occurrence -> fully protected;
        # doc 2 loses exactly the boilerplate half
        assert got[1] == (2 * half, 0)
        assert got[2] == (half, half)
        # the measured bound: half-boilerplate 10k-token pages stay
        # comfortably inside one task's budget (generous ceiling — the
        # point is catching an accidental O(corpus) or O(n^2-in-spans)
        # regression, not timing jitter)
        assert wall < 90, f"span-removal worst-case blew up: {wall:.1f}s"


class TestNearDupDecontamination:
    """Cross-frame near-dup decontamination (r14, gate candidate r15):
    the published stage above exact n-gram collision — training docs
    near-duplicating EVAL docs are flagged with their match and the
    exact Jaccard."""

    CORPUS = [
        (1, "the quick brown fox jumps over the lazy dog near the river"),
        # light paraphrase of benchmark doc 100 (one word changed)
        (2, "question answer pairs for the benchmark evaluation suite v2"),
        (3, "an entirely unrelated training document about cooking pasta"),
        # exact copy of benchmark doc 101
        (4, "held out test sentences must never leak into training data"),
        # two identical CORPUS docs: must NOT appear as output pairs
        (5, "duplicate corpus text that matches no benchmark entry here"),
        (6, "duplicate corpus text that matches no benchmark entry here"),
    ]
    BENCH = [
        (100, "question answer pairs for the benchmark evaluation suite v1"),
        (101, "held out test sentences must never leak into training data"),
        (102, "a benchmark document similar to nothing in the corpus"),
    ]

    def _run(self, spark, **kw):
        from airflow_etl_finance_market_spark.operators.dedup import (
            near_dup_decontamination,
        )

        docs = spark.createDataFrame(self.CORPUS, "doc_id long, text string")
        bench = spark.createDataFrame(self.BENCH, "bench_id long, text string")
        return near_dup_decontamination(docs, bench, threshold=0.5, **kw)

    def test_flags_exact_and_paraphrase_cross_pairs_only(self, spark):
        got = {(r.doc_id, r.bench_id): r.jaccard_sim for r in self._run(spark).collect()}
        # the exact copy is flagged at jaccard 1.0
        assert got[(4, 101)] == 1.0
        # the one-word paraphrase is flagged (high but < 1)
        assert (2, 100) in got and 0.5 <= got[(2, 100)] < 1.0
        # unrelated docs and the within-corpus duplicate pair never appear
        flagged_docs = {d for d, _ in got}
        assert flagged_docs == {2, 4}
        # exact Jaccard agrees with a python set computation per pair
        def grams(t, n=3):
            ws = t.split()
            return {" ".join(ws[i:i + n]) for i in range(len(ws) - n + 1)}
        for (d, b), sim in got.items():
            gd = grams(dict(self.CORPUS)[d])
            gb = grams(dict(self.BENCH)[b])
            ref = len(gd & gb) / len(gd | gb)
            assert abs(sim - round(ref, 6)) <= 1e-6

    def test_anti_join_gives_clean_corpus(self, spark):
        flagged = self._run(spark).select("doc_id").distinct()
        docs = spark.createDataFrame(self.CORPUS, "doc_id long, text string")
        clean = docs.join(flagged, "doc_id", "left_anti")
        assert sorted(r.doc_id for r in clean.collect()) == [1, 3, 5, 6]

    def test_benchmark_side_broadcasts(self, spark):
        plan = (
            self._run(spark)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "BroadcastHashJoin" in plan
        # and the opt-out flips the candidate join to a shuffle join
        plan_smj = (
            self._run(spark, broadcast_benchmark=False)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "BroadcastExchange" not in plan_smj or plan_smj.count(
            "BroadcastExchange"
        ) < plan.count("BroadcastExchange")

    def test_portable_mode_matches_xxhash_flag_set(self, spark):
        a = {(r.doc_id, r.bench_id) for r in self._run(spark).collect()}
        b = {
            (r.doc_id, r.bench_id)
            for r in self._run(spark, hash_mode="portable").collect()
        }
        # both modes flag the planted families (banding seeds differ, but
        # exact-copy families collide in EVERY band in both modes)
        assert (4, 101) in a and (4, 101) in b
        assert (2, 100) in a and (2, 100) in b

    def test_bands_must_divide_num_hashes(self, spark):
        # r14 ADVICE: _banded_keys would silently drop the trailing
        # num_hashes % bands signature values, quietly changing recall
        import pytest

        with pytest.raises(ValueError, match="must divide num_hashes"):
            self._run(spark, num_hashes=32, bands=5)


class TestMinhashEstimatedPairs:
    """Signature-only Jaccard-estimator verify tier (r15, gate candidate
    r16): Broder's resemblance estimator over the banded candidates —
    no gram rehydration past the signature aggregation."""

    CORPUS = [
        (1, "the quick brown fox jumps over the lazy dog by the river"),
        (2, "the quick brown fox jumps over the lazy dog by the river"),
        (3, "the quick brown fox jumps over the lazy dog by the sea"),
        (4, "an entirely different document about cooking pasta at home"),
        (5, "another unrelated page describing bicycle repair techniques"),
    ]

    def _run(self, spark, **kw):
        from airflow_etl_finance_market_spark.operators.dedup import (
            minhash_estimated_pairs,
        )

        docs = spark.createDataFrame(self.CORPUS, "doc_id long, text string")
        return minhash_estimated_pairs(docs, **kw)

    def test_exact_duplicates_estimate_one(self, spark):
        for mode in ("xxhash64", "portable"):
            got = {
                (r.id_a, r.id_b): (r.n_agree, r.est_jaccard)
                for r in self._run(
                    spark, threshold=0.9, hash_mode=mode
                ).collect()
            }
            # identical docs agree on every component, estimate 1.0
            assert got[(1, 2)] == (32, 1.0), mode
            # nothing unrelated survives a 0.9 estimate cut
            assert all(a in (1, 2, 3) and b in (1, 2, 3) for a, b in got), mode

    def test_estimator_equals_signature_agreement(self, spark):
        """n_agree must equal the component-wise agreement of the SAME
        signatures minhash_signatures emits — the estimator is pure
        signature arithmetic, re-derivable from the public frame."""
        from airflow_etl_finance_market_spark.operators.dedup import (
            minhash_signatures,
        )

        docs = spark.createDataFrame(self.CORPUS, "doc_id long, text string")
        sigs = {
            r.id: list(r.sig)
            for r in minhash_signatures(docs).collect()
        }
        got = self._run(spark, threshold=0.0)
        for r in got.collect():
            agree = sum(
                1 for x, y in zip(sigs[r.id_a], sigs[r.id_b]) if x == y
            )
            assert r.n_agree == agree
            assert abs(r.est_jaccard - round(agree / 32, 6)) < 1e-9

    def test_threshold_cut_is_integer_exact(self, spark):
        """est >= t evaluates as n_agree >= t*32 on the integer count:
        at t = 0.75 exactly 24 agreements survive, 23 do not."""
        rows = self._run(spark, threshold=0.75).collect()
        assert all(r.n_agree >= 24 for r in rows)
        rows_lo = self._run(spark, threshold=0.75 - 1 / 32).collect()
        assert all(r.n_agree >= 23 for r in rows_lo)

    def test_no_gram_rehydration_in_plan(self, spark):
        """The verify stage compares SIGNATURES, never rehydrated gram
        arrays: minhash_dedup_pairs' exact Jaccard shows up in the plan
        as array_intersect over the re-shingled text; the estimator
        plan must contain ZERO array_intersect (its only array work
        past the signature agg is the zip_with agreement count)."""
        from airflow_etl_finance_market_spark.operators.dedup import (
            minhash_dedup_pairs,
        )

        docs = spark.createDataFrame(self.CORPUS, "doc_id long, text string")
        est = (
            self._run(spark, threshold=0.5)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        exact = (
            minhash_dedup_pairs(docs, threshold=0.5)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "array_intersect" in exact  # the bill the estimator skips
        assert "array_intersect" not in est
        assert "zip_with" in est

    def test_bands_must_divide(self, spark):
        import pytest

        with pytest.raises(ValueError, match="must divide num_hashes"):
            self._run(spark, num_hashes=32, bands=5)

    def test_threshold_boundary_is_rational_exact(self):
        """The review-found float trap: 0.28*25 = 7.000000000000001 in
        IEEE double, so a raw product cut would reject the exactly-on-
        threshold 7/25 estimate. _min_agree ceils over the exact
        rational boundary instead."""
        from airflow_etl_finance_market_spark.operators.dedup import (
            _min_agree,
        )

        assert _min_agree(0.28, 25) == 7      # 7/25 == 0.28 passes
        assert _min_agree(0.75, 32) == 24     # exact boundary
        assert _min_agree(0.75 + 1e-6, 32) == 25  # just above -> next int
        assert _min_agree(0.5, 3) == 2        # 1.5 -> need 2
        assert _min_agree(0.0, 32) == 0
        assert _min_agree(1.0, 32) == 32
        # the triage band edges go through the same helper
        assert _min_agree(0.4 - 0.12, 25) == 7  # (0.28)*25 trap again


class TestMinhashTriagePairs:
    """Estimate-then-verify triage composition (r15, gate candidate r16):
    only the borderline estimate band pays gram rehydration."""

    # ten near-identical docs (J=1 pairs, est accepts), one borderline
    # family, plenty of unrelated background
    CORPUS = (
        [(i, "the quick brown fox jumps over the lazy dog again") for i in range(1, 4)]
        + [
            (10, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
            # ~half the trigrams shared -> true J near 0.5, borderline at
            # threshold 0.5 with margin 0.125
            (11, "alpha beta gamma delta epsilon nu xi omicron pi rho"),
            (20, "a completely unrelated text about gardening and soil"),
            (21, "bicycle maintenance instructions for chain and brakes"),
        ]
    )

    def _run(self, spark, **kw):
        from airflow_etl_finance_market_spark.operators.dedup import (
            minhash_triage_pairs,
        )

        docs = spark.createDataFrame(self.CORPUS, "doc_id long, text string")
        return minhash_triage_pairs(docs, **kw)

    def test_verdict_split_and_union_semantics(self, spark):
        rows = self._run(spark, threshold=0.5, margin=0.125).collect()
        by_pair = {(r.id_a, r.id_b): r for r in rows}
        # the identical triplet is estimate-accepted: all 32 agree
        for pair in [(1, 2), (1, 3), (2, 3)]:
            r = by_pair[pair]
            assert r.verdict == "estimate"
            assert r.n_agree == 32 and r.est_jaccard == 1.0
            assert r.jaccard_sim is None
        # every exact-verdict row carries a true Jaccard >= threshold
        for r in rows:
            if r.verdict == "exact":
                assert r.jaccard_sim is not None and r.jaccard_sim >= 0.5
                # borderline band only: est below the hi cut
                assert r.n_agree < (0.5 + 0.125) * 32

    def test_agrees_with_exact_pipeline_above_hi_band(self, spark):
        """Triage accepted-set == minhash_dedup_pairs' verified set for
        every pair the estimator judged confidently (no disagreement is
        possible there for exact duplicates; borderline rows agree by
        construction since they run the same exact verify)."""
        from airflow_etl_finance_market_spark.operators.dedup import (
            minhash_dedup_pairs,
        )

        docs = spark.createDataFrame(self.CORPUS, "doc_id long, text string")
        exact = {
            (r.id_a, r.id_b)
            for r in minhash_dedup_pairs(docs, threshold=0.5).collect()
        }
        triage = {
            (r.id_a, r.id_b)
            for r in self._run(spark, threshold=0.5, margin=0.125).collect()
            if r.verdict == "exact" or r.n_agree == 32
        }
        # exact-verdict rows and perfect-agreement rows are all true pairs
        assert triage <= exact
        # the planted families are recovered either way
        assert {(1, 2), (1, 3), (2, 3)} <= triage

    def test_margin_validation(self, spark):
        import pytest

        with pytest.raises(ValueError, match="margin"):
            self._run(spark, threshold=0.5, margin=0.6)
        with pytest.raises(ValueError, match="must divide"):
            self._run(spark, num_hashes=32, bands=7)

    def test_borderline_only_rehydrates(self, spark):
        """margin=0 means NO borderline band: the plan contains zero
        gram rehydration (no array_intersect), the full-estimate path."""
        df = self._run(spark, threshold=0.5, margin=0.0)
        plan = df._jdf.queryExecution().executedPlan().toString()
        # borderline branch is empty-by-filter; the exact join still
        # appears in the plan, but with margin=0 the borderline filter
        # is n_agree in [t*32, t*32) = empty — semantics checked instead:
        assert all(r.verdict == "estimate" or r.n_agree < 16.0 for r in df.collect())
