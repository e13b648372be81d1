"""Behaviour tests for the exact and n-gram dedup operators: exact
survivors, winnowing fingerprints, duplicate-span statistics and
duplicate-span removal.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from airflow_etl_finance_market_spark.operators.dedup import dedup_exact
from airflow_etl_finance_market_spark.sources.readers import load_fixture


def _docs(spark, sf_dir):
    return load_fixture(spark, sf_dir, "documents")


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
