"""Property-based differential tests (hypothesis): engine operators vs the
equivalent pandas computation on arbitrary generated inputs.

Each example runs real Spark jobs, so examples are few and small — the value
is the input-space coverage (ties, duplicates, empty sides, all-NULL runs)
that fixture-based tests can't enumerate.
"""

from __future__ import annotations

import datetime as dt
import math

import pandas as pd
from pyspark.sql import functions as F
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from airflow_etl_finance_market_spark.operators.asof import asof_join
from airflow_etl_finance_market_spark.plans.volatility import daily_pct_change

SETTINGS = dict(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

_day = st.integers(min_value=1, max_value=28)
_key = st.integers(min_value=0, max_value=2)
_px = st.one_of(
    st.just(0.0), st.floats(min_value=0.5, max_value=100.0, allow_nan=False)
)


@st.composite
def _series_rows(draw):
    n = draw(st.integers(min_value=1, max_value=18))
    rows = []
    for i in range(n):
        rows.append((draw(_key), dt.date(2024, 1, draw(_day)), i, draw(_px)))
    return rows


@given(rows=_series_rows())
@settings(**SETTINGS)
def test_pct_change_matches_pandas(spark, rows):
    df = spark.createDataFrame(rows, "k long, d date, seq long, px double")
    got = {
        (r["k"], r["seq"]): r["chg"]
        for r in daily_pct_change(
            df, key="k", ts="d", value="px", order_tiebreak=("seq",), out="chg"
        ).collect()
    }
    pdf = pd.DataFrame(rows, columns=["k", "d", "seq", "px"]).sort_values(
        ["k", "d", "seq"]
    )
    prev = pdf.groupby("k")["px"].shift(1)
    want = (pdf["px"] - prev) / prev.where(prev != 0) * 100  # NULLIF(prev,0)
    for (k, seq), w in zip(zip(pdf["k"], pdf["seq"]), want):
        g = got[(k, seq)]
        if pd.isna(w):
            assert g is None or (isinstance(g, float) and math.isnan(g))
        else:
            assert g is not None and abs(g - w) < 1e-9


@st.composite
def _asof_sides(draw):
    nl = draw(st.integers(min_value=1, max_value=10))
    nr = draw(st.integers(min_value=0, max_value=10))
    left = sorted(
        {(draw(_key), dt.date(2024, 1, draw(_day))) for _ in range(nl)}
    )
    right = sorted(
        {(draw(_key), dt.date(2024, 1, draw(_day))) for _ in range(nr)}
    )
    right = [(k, d, float(i)) for i, (k, d) in enumerate(right)]
    return left, right


@given(sides=_asof_sides(), inclusive=st.booleans())
@settings(**SETTINGS)
def test_asof_join_matches_pandas_merge_asof(spark, sides, inclusive):
    left_rows, right_rows = sides
    left = spark.createDataFrame(left_rows, "k long, ts date")
    right = spark.createDataFrame(right_rows, "k long, ts date, v double")
    got = {
        (r["k"], r["ts"]): r["rv"]
        for r in asof_join(
            left, right, by="k", ts="ts", right_vals={"v": "rv"},
            inclusive=inclusive,
        ).collect()
    }

    lp = pd.DataFrame(left_rows, columns=["k", "ts"]).sort_values("ts")
    rp = pd.DataFrame(right_rows, columns=["k", "ts", "v"]).sort_values("ts")
    lp["ts"] = pd.to_datetime(lp["ts"])
    rp["ts"] = pd.to_datetime(rp["ts"])
    if rp.empty:
        want = lp.assign(v=float("nan"))
    else:
        want = pd.merge_asof(
            lp, rp, on="ts", by="k", direction="backward",
            allow_exact_matches=inclusive,
        )
    assert len(got) == len(left_rows)
    for _, row in want.iterrows():
        g = got[(row["k"], row["ts"].date())]
        if pd.isna(row["v"]):
            assert g is None
        else:
            assert g == row["v"]


@given(
    toks=st.lists(st.integers(min_value=0, max_value=40), min_size=0, max_size=60),
    budget=st.integers(min_value=1, max_value=50),
    shards=st.integers(min_value=1, max_value=5),
)
@settings(**SETTINGS)
def test_pack_sequences_replays_greedy_packing(spark, toks, budget, shards):
    """For arbitrary token-count corpora, every (shard, seq, offset)
    coordinate must equal a literal greedy concat-then-split replay over
    the same md5 shard assignment."""
    import hashlib

    from airflow_etl_finance_market_spark.operators.packing import (
        pack_sequences,
    )

    docs = spark.createDataFrame(
        [(i, " ".join(["w"] * n) if n else "") for i, n in enumerate(toks)],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: (r["shard"], r["seq_id"], r["n_tokens"], r["seq_offset"])
        for r in pack_sequences(docs, budget=budget, shards=shards).collect()
    }
    cum: dict[int, int] = {}
    for i, n in enumerate(toks):
        # '' splits to [''] — one (empty) token, same as the engine's
        # tokenizer contract
        n_tok = max(n, 1)
        shard = (
            int(hashlib.md5(f"seed42:{i}".encode()).hexdigest()[:8], 16) % shards
        )
        c = cum.get(shard, 0)
        assert got[i] == (shard, c // budget, n_tok, c % budget), (i, got[i])
        cum[shard] = c + n_tok


_etype = st.sampled_from(["view", "click", "purchase"])


@st.composite
def _event_rows(draw):
    n = draw(st.integers(min_value=1, max_value=20))
    return [
        (
            draw(st.integers(min_value=0, max_value=3)),
            dt.datetime(2024, 1, draw(_day), draw(st.integers(0, 23))),
            draw(_etype),
        )
        for _ in range(n)
    ]


@given(rows=_event_rows())
@settings(**SETTINGS)
def test_funnel_matches_python_replay(spark, rows):
    """Funnel counts replay the earliest-event-chaining definition in plain
    Python on arbitrary event soups (ties, repeats, missing steps), and
    step counts are monotonically non-increasing."""
    from airflow_etl_finance_market_spark.operators.funnel import event_funnel

    steps = ["view", "click", "purchase"]
    df = spark.createDataFrame(
        rows, "user_id long, ts timestamp, event_type string"
    )
    got = {
        r.step: r.n_users for r in event_funnel(df, steps).collect()
    }
    # python replay
    by_user = {}
    for u, ts, et in rows:
        by_user.setdefault(u, []).append((ts, et))
    want = {s: 0 for s in steps}
    for u, evs in by_user.items():
        t = None
        for i, s in enumerate(steps):
            cand = [
                ts
                for ts, et in evs
                if et == s and (i == 0 or (t is not None and ts > t))
            ]
            if not cand:
                break
            t = min(cand)
            want[s] += 1
    assert got == want
    counts = [got[s] for s in steps]
    assert counts == sorted(counts, reverse=True)


@st.composite
def _doc_rows(draw):
    n = draw(st.integers(min_value=2, max_value=8))
    words = ["alpha", "beta", "gamma", "delta", "eps"]
    return [
        (
            i,
            " ".join(
                draw(st.sampled_from(words))
                for _ in range(draw(st.integers(3, 10)))
            ),
        )
        for i in range(n)
    ]


@given(rows=_doc_rows())
@settings(**SETTINGS)
def test_containment_bounds_and_dominates_jaccard(spark, rows):
    """For every emitted pair: containment ∈ (0, 1], and max-direction
    containment >= the pair's Jaccard (set algebra: |∩|/min(|A|,|B|) >=
    |∩|/|∪|) — checked against plain-Python set arithmetic."""
    from airflow_etl_finance_market_spark.operators.dedup import (
        ngram_containment_pairs,
    )

    df = spark.createDataFrame(rows, "doc_id long, text string").withColumn(
        "lang", F.lit("en")
    )
    out = ngram_containment_pairs(df, threshold=0.0).collect()

    def grams(t):
        toks = t.split()
        k = max(len(toks) - 2, 1)
        return {" ".join(toks[i : i + 3]) for i in range(k)}

    g = {i: grams(t) for i, t in rows}
    for r in out:
        a, b = g[r.id_contained], g[r.id_container]
        inter = len(a & b)
        assert 0.0 <= r.containment <= 1.0
        assert abs(r.containment - round(inter / len(a), 6)) <= 1e-9
        jac = inter / len(a | b) if a | b else 0.0
        # emitted containment is ROUND(...,6): allow the rounding quantum
        assert r.containment >= jac - 5e-7 or inter == 0


@settings(max_examples=15, deadline=None)
@given(
    events=st.lists(
        st.tuples(
            st.integers(0, 5),           # user
            st.integers(0, 50),          # ts seconds
            st.sampled_from(["view", "click", "purchase", "error"]),
        ),
        min_size=0,
        max_size=60,
    )
)
def test_funnel_batch_matches_python_state_machine(spark, events):
    """Property: for ANY event multiset (duplicate timestamps included),
    the declarative chained-join funnel equals a per-user earliest-event
    state machine replayed in Python with strict-after semantics."""
    from airflow_etl_finance_market_spark.streaming.stateful import (
        funnel_stateful,
    )

    steps = ["view", "click", "purchase"]
    df = spark.createDataFrame(
        [(u, t, e) for u, t, e in events] or [(99, 0, "noop")],
        "user_id long, ts_s long, event_type string",
    ).select(
        "user_id", F.timestamp_seconds("ts_s").alias("ts"), "event_type"
    )
    got = {
        (r.user_id, r.step_idx, int(r.reached_at.timestamp()))
        for r in funnel_stateful(df, tuple(steps)).collect()
    }

    expect = set()
    by_user = {}
    for u, t, e in sorted(events, key=lambda x: (x[0], x[1])):
        by_user.setdefault(u, []).append((t, e))
    for u, evs in by_user.items():
        # chained earliest-event semantics: step k's reach time is the
        # MIN ts of a step-k event strictly after step k-1's reach time
        last = None
        for i, step in enumerate(steps, start=1):
            cands = [
                t
                for t, e in evs
                if e == step and (last is None or t > last)
            ]
            if not cands:
                break
            last = min(cands)
            expect.add((u, i, last))
    assert got == expect


@settings(max_examples=15, deadline=None)
@given(
    rows=st.lists(
        st.tuples(
            st.integers(0, 200),                    # doc id
            st.sampled_from(["a", "b"]),            # group
            st.integers(1, 1000),                   # weight
        ),
        min_size=1,
        max_size=40,
        unique_by=lambda r: r[0],
    ),
    k=st.integers(1, 6),
)
def test_weighted_sample_matches_python_replay(spark, rows, k):
    """Property: A-ES selection equals the Python replay of the identical
    md5-derived race keys for any id/weight mix."""
    import hashlib
    import math

    from airflow_etl_finance_market_spark.operators.sampling import (
        weighted_sample,
    )

    df = spark.createDataFrame(
        [(i, g, float(w)) for i, g, w in rows],
        "doc_id long, g string, w double",
    )
    got = {
        (r.g, r.doc_id, r.sample_rank)
        for r in weighted_sample(
            df, key="doc_id", weight_col="w", group="g", k=k
        ).collect()
    }

    def race(doc_id, w):
        b = int(
            hashlib.md5(f"seed42:{doc_id}".encode()).hexdigest()[:8], 16
        )
        return -math.log((b + 0.5) / 4294967296.0) / w

    expect = set()
    for g in {r[1] for r in rows}:
        members = sorted(
            (r for r in rows if r[1] == g),
            key=lambda r: (race(r[0], r[2]), r[0]),
        )
        for i, r in enumerate(members[:k], start=1):
            expect.add((g, r[0], i))
    assert got == expect


# ---------------------------------------------------------------------------
# PNG round-trip property (pure driver-side — no Spark per example, so it
# affords far more examples than the differential tests above)
# ---------------------------------------------------------------------------


@given(
    w=st.integers(min_value=1, max_value=20),
    h=st.integers(min_value=1, max_value=20),
    ch=st.sampled_from([1, 3, 4]),
    data=st.data(),
)
@settings(max_examples=40, deadline=None)
def test_png_roundtrip_exact_on_random_pixels(w, h, ch, data):
    """PNG is lossless: the chart codec's encode->decode must be the
    identity on ANY pixel buffer, not just the rendered charts."""
    import numpy as np

    from airflow_etl_finance_market_spark.plans.charts import (
        decode_png,
        encode_png,
    )

    pix = bytes(
        data.draw(
            st.lists(
                st.integers(0, 255),
                min_size=w * h * ch,
                max_size=w * h * ch,
            )
        )
    )
    rgb = np.frombuffer(pix, np.uint8).reshape(h, w, ch)
    assert decode_png(encode_png(rgb)) == (w, h, ch, pix)


_word = st.text(
    alphabet="abcdefghijklmnopqrstuvwxyz0123456789", min_size=1, max_size=8
)
_tagname = st.sampled_from(["p", "div", "span", "h2", "li", "em", "b"])


@st.composite
def _tagged_doc(draw):
    """Words wrapped in arbitrary nesting of benign tags + noise
    elements: the extraction must return exactly the words, in order,
    single-spaced, regardless of tag structure."""
    words = draw(st.lists(_word, min_size=1, max_size=12))
    html_parts = []
    for w in words:
        tag = draw(_tagname)
        attr = draw(st.sampled_from(["", ' class="x"', " id='a' data-k=1"]))
        html_parts.append(f"<{tag}{attr}>{w}</{tag}>")
        if draw(st.booleans()):
            html_parts.append("<script>var junk = 1 < 2;</script>")
        if draw(st.booleans()):
            html_parts.append("<!-- noise -->")
    return " ".join(words), "".join(html_parts)


@given(doc=_tagged_doc())
@settings(**SETTINGS)
def test_html_extract_recovers_words_under_any_tag_nesting(spark, doc):
    from airflow_etl_finance_market_spark.functions.text import html_to_text

    want, html = doc
    got = (
        spark.createDataFrame([(html,)], "html string")
        .select(html_to_text(F.col("html")).alias("t"))
        .first()["t"]
    )
    assert got == want


_scheme = st.sampled_from(["http", "https", "HTTP", "FTP"])
_host = st.sampled_from(
    ["E.com", "www.a.B.org", "x.net:8080", "y.io:443", "z.dev:80"]
)
_seg = st.sampled_from(
    ["a", "B", "a b", "%41", "%2d", "%2F", "%20", "%7e", "%2541", "caf%C3%A9"]
)
_param = st.sampled_from(
    ["", "a=1", "b=%41", "utm_source=x", "ref=r", "z=%20", "k%3Dv=2", "a="]
)
_frag = st.sampled_from(["", "#f", "#a?x=1", "#%41"])


@st.composite
def _urlish(draw):
    segs = draw(st.lists(_seg, min_size=0, max_size=3))
    params = draw(st.lists(_param, min_size=0, max_size=3))
    path = "".join("/" + s for s in segs) + draw(
        st.sampled_from(["", "/", "//"])
    )
    q = ("?" + "&".join(params)) if params else ""
    return f"{draw(_scheme)}://{draw(_host)}{path}{q}{draw(_frag)}"


@given(urls=st.lists(_urlish(), min_size=1, max_size=24))
@settings(**SETTINGS)
def test_canonicalize_url_idempotent_hypothesis(spark, urls):
    """canon(canon(u)) == canon(u) over generated url soups — scheme
    case x ports x percent-codes (unreserved, reserved, double-encoded,
    multi-byte UTF-8) x tracking params x fragment traps (incl. the
    fragment-interior '?'). The generator deliberately EXCLUDES the
    documented single-pass residual (a literal '%' immediately followed
    by encoded hex digits, e.g. '%%34%31') — that residual is pinned as
    an explicit case in test_corpus_ops instead."""
    from airflow_etl_finance_market_spark.functions.text import (
        canonicalize_url,
    )

    df = spark.createDataFrame([(u,) for u in urls], "url string")
    out = df.select(
        "url", canonicalize_url("url").alias("c1")
    ).select("url", "c1", canonicalize_url("c1").alias("c2"))
    bad = [r for r in out.collect() if r.c1 != r.c2]
    assert bad == [], f"non-idempotent: {bad[:5]}"


def _span_removal_replay(docs, k, min_docs=2):
    """Pure-python replay of duplicate_span_removal's contract (the
    test_dedup differential, shared here for the property form)."""
    from collections import defaultdict

    toks = {i: t.lower().split() for i, t in docs}
    occ = []
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
        (sv if surv[s] == (i, p) else ns)[i].update(range(p, e + 1))
    out = {}
    for i, ts in toks.items():
        rm = ns[i] - sv[i]
        kept = [t for j, t in enumerate(ts, 1) if j not in rm]
        out[i] = (" ".join(kept), len(kept), len(rm))
    return out


@st.composite
def _span_corpus(draw):
    # tiny alphabet + short docs force heavy span collisions: repeats
    # within docs, cross-doc shares, sub-span-length degenerates
    n_docs = draw(st.integers(min_value=1, max_value=6))
    word = st.sampled_from(["a", "b", "c", "d"])
    docs = []
    for i in range(n_docs):
        toks = draw(st.lists(word, min_size=1, max_size=12))
        docs.append((i + 1, " ".join(toks)))
    return docs


@given(docs=_span_corpus(), k=st.integers(min_value=2, max_value=4),
       min_docs=st.integers(min_value=1, max_value=3))
@settings(**SETTINGS)
def test_duplicate_span_removal_matches_replay_hypothesis(
    spark, docs, k, min_docs
):
    """Property differential: over adversarial tiny-alphabet corpora
    (maximal span collisions, overlap chains, whole-doc degenerates,
    within-doc repeats), the operator equals the pure-python replay of
    its contract for every (span_tokens, min_docs)."""
    from airflow_etl_finance_market_spark.operators.dedup import (
        duplicate_span_removal,
    )

    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        r.doc_id: (r.text, r.n_tokens_kept, r.n_tokens_removed)
        for r in duplicate_span_removal(
            df, span_tokens=k, min_docs=min_docs
        ).collect()
    }
    assert got == _span_removal_replay(docs, k, min_docs)


# --- unigram-LM trainer differential (r14) ---------------------------------


@st.composite
def _unigram_corpus(draw):
    """Tiny-alphabet doc soups: heavy substring sharing, ties everywhere
    — exactly where an argmax/tie-break drift between the Spark kernel
    and the reference would surface."""
    n_docs = draw(st.integers(min_value=1, max_value=5))
    word = st.text(alphabet="abc", min_size=1, max_size=6)
    docs = []
    for i in range(n_docs):
        words = draw(st.lists(word, min_size=1, max_size=8))
        docs.append((i, " ".join(words)))
    return docs


@given(corpus=_unigram_corpus(), rounds=st.integers(min_value=1, max_value=2))
@settings(**SETTINGS)
def test_unigram_train_matches_reference_hypothesis(spark, corpus, rounds):
    """unigram_train + unigram_token_stats vs the pure-Python reference
    over adversarial tiny-alphabet corpora (the span-removal precedent):
    the integer-exact objective must make every interior argmax agree,
    so vocab AND per-doc apply counts are equal exactly."""
    from airflow_etl_finance_market_spark.operators.unigram import (
        unigram_token_stats,
        unigram_train,
    )
    from tests.test_unigram_ops import _ref_doc_tokens, _ref_train

    params = dict(rounds=rounds, L=2, W=4, seed_multi=5, keep_multi=3)
    ref_vocab, _ = _ref_train([t for _, t in corpus], **params)
    df = spark.createDataFrame(corpus, "doc_id long, text string")
    vocab, segments = unigram_train(
        df, rounds=rounds, max_piece_len=2, max_word_len=4,
        seed_multi=5, keep_multi=3,
    )
    assert {r.piece: r.weight for r in vocab.collect()} == ref_vocab
    got_docs = {
        r.doc_id: (r.n_words, r.n_unigram_tokens)
        for r in unigram_token_stats(df, segments).collect()
    }
    assert got_docs == _ref_doc_tokens(corpus, ref_vocab, 2, 4)
