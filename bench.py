#!/usr/bin/env python
"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR on local[N].

Prints ONE JSON line:
    {"metric": "...", "value": <total_sec>, "unit": "sec",
     "queries": {"<name>": <sec>, ...}, "sf": <float>}

Method: one shared SparkSession (per BASELINE.md — fixed JVM/session cost
dwarfs sf0.1 compute, exactly like the reference's one-Postgres-instance
model); each query materializes fully via the `noop` sink (forces every
column/row through the plan with zero sink cost — `count()` would let
Catalyst prune work) and reports BEST-OF-3 runs for the headline tier:
this host shows sporadic multi-second stalls (measured 2-25x on identical
plans minutes apart), and steady-state throughput is the quantity
comparable to the reference's baseline. Best-of-2 proved too few samples:
r02 recorded doc_token_stats 0.274->0.496 and doc_exact_dedup 0.349->0.665
vs r01 with ZERO code changes to either plan (verified against the round-2
diffs) — both minima were stall-inflated, hence one more sample. Ingest is benchmarked as schema-first CSV scan → parquet
overwrite (the S1/S4 path; reference baseline ~2 s 750k-row COPY) plus a
parquet→parquet overwrite.

NOISE BUDGET (for cross-round comparison): even best-of-3 leaves ±0.1-0.2s
of scheduler/host jitter per entry, which is 10-30% of a sub-second query.
Rule: a sub-second (<1s) entry counts as REGRESSED only above +50% drift;
multi-second entries only above +20%. Anything inside those bands is host
noise, not a plan change — r03 measured volume_leaders +29%, ticker_metrics
+14%, csv_ingest +13% with byte-identical plans. Apply the rule before
filing any perf task off a BENCH_r{N} diff.

r04 notes: the host's noise band widened under shared load — solo 3-trial
reruns are the arbiter (r04 saw minhash_full read 23.9s in one run and
6.3-6.9s solo; dedup_clusters wanders 8.4-12.6s across solo runs with an
unchanged plan). Deliberate r04 deltas to expect vs r03: winnow_fps ≈ -35%
(array-side sliding min, no Window sort), edit_dist_dups ≈ 1.3-1.8s
(threshold-bounded Levenshtein; was 6.1s at introduction), four NEW
entries (inverted_index, bigram_lp, pmi_pairs, edit_dist_dups), and the
two streaming hard gates run ~20x faster wall-clock (state partitions
bounded to 8 for the gate queries — semantics unchanged). Wave-4 adds four
NEW headline entries (ohlcv_weekly_bars, ticker_max_drawdown, ticker_beta,
doc_source_quota_sample): the headline sum grows by their cost; per-query
deltas remain the comparison basis. Late-r04 deliberate deltas: the
word-ngram kernel moved from transform(sequence, slice-per-shingle) to a
zip_with chain (4.4x faster shingling, byte-identical output), cutting the
whole n-gram tier — solo x10 minimums: minhash_full ~4.3s (was 8.0-8.6),
minhash portable ~5.7 (8.2), winnow_fps ~1.9 (5.1), containment_lsh ~3.2
(6.9), contamination ~1.4 (3.1), dedup_clusters ~7.0 (10.5). Opposite
direction, also deliberate: edit_dist_dups ~3x (1.2 -> 4-7s solo) — the
blocking now probes adjacent length buckets so boundary-straddling
near-dups are no longer silently missed; ~3x the candidate pairs is the
recall price, amplified by the bench's deliberately narrow 4-char buckets.
punct_ratio moved from regexp_replace to translate() (same count, 4x
faster) — expect token_stats ~0.9s (2.0), repetition ~1.5 (3.4),
curated_corpus ~1.0 (2.3) at x10.

r05 notes: ARBITRATION of the r04 ingest_overwrite +51% (1.051 -> 1.586,
past the +20% rule, flagged by the r04 verdict): solo best-of-3 x3 sets
measured 0.870 / 0.826 / 0.803 s best — FASTER than both recorded
rounds, so the 1.586 was host noise, not a plan or commit-protocol
change (plans byte-identical per the r04 method). Root-cause fix: the
ingest block ran best-of-2 while every other tier runs best-of-3; both
ingest paths now take 3 trials, closing the one place a single stall
could still print as a regression. Two NEW headline entries
(ticker_pair_correlation, doc_weighted_sample) grow the headline total
by construction, and markets_x10 (10x lineitem, ~6M rows) + events_x10
(10x USER cardinality, 1M rows — the dimension the user-keyed
funnel/retention/ffill shuffles scale on; all five entries 0.5-1.2 s)
give the market and event tiers the same scaling evidence as the
corpus tier. corpus_x10 additionally gains dup_spans.

r06 notes: ARBITRATION of the r05 containment_lsh +49% (2.989 -> 4.456,
past the +20% rule, flagged by the r05 verdict): solo best-of-3 x3 sets
measured 3.277 / 3.064 / 2.617 s best — at-or-below BOTH recorded
rounds, so the 4.456 was host noise, not a plan change (the containment
code did not change in r05; the round-5 dedup.py diff was duplicate-span
additions only). Root-cause fix, same as r05's ingest arbitration: the
corpus_x10 tier was the last best-of-2 hold-out and has now produced
both best-of-2 casualties — it runs BEST-OF-3 from r06 (expect no
deliberate corpus deltas from that alone; minima can only drop).
markets/events tiers stay best-of-2: their entries are 0.5-2 s where a
third trial buys little, and both tiers have shown no rule-breaking
drift. NEW in r06: a corpus_x100 section (500k docs — 100 near-dup
families of 10 built by per-group vowel-substitution so family size
stays constant and candidate generation scales LINEARLY with docs, the
honest scale-up; 10x the corpus_x10 data) timing the dedup/CC chain
(minhash_full, dedup_clusters, dup_spans) best-of-2 — the measured
decade of scaling the 100 TB story rests on; x100/x10 wall-clock ratios
≈ 10 are the pass criterion, anything materially super-linear needs an
arbitration note. events_x10 additionally gains weekly_activity_panel
(the new ffill+HLL composition entry).

r07 notes: ARBITRATION of the r06 ticker_beta markets_x10 +28%
(1.418 -> 1.817, past the +20% rule, flagged by the r06 verdict): solo
best-of-3 x3 sets measured 1.863 / 1.605 / 1.461 s best — the minimum
is within +3% of r05's recorded 1.418 with an UNCHANGED plan
(operators/markets.py untouched in r06), and the 1.46-1.86 spread
across solo sets shows the host jitter band for this entry spans the
whole "regression"; noise, not a plan change. Root-cause fix, closing
the pattern for good (third best-of-2 casualty after r04 ingest and
r05 containment_lsh): EVERY tier now runs best-of-3 — markets_x10,
events_x10, corpus_x100 included. ARTIFACT contract change
(r06 verdict #1): the full payload now lands in the committed
BENCH_LOCAL.json ($SPARK_GRAFT_BENCH_OUT) and stdout carries only the
compact headline line, so the driver's tail capture can never truncate
the headline total again; the r06 hole reconstructs to ~13.8 s (10.69
visible + 3.13 r05-carry for the 6 truncated entries, per the r06
verdict). NEW events_x100 section (10M events, 100x USER cardinality):
the measured decade for the user-keyed state tier (funnel, retention,
ffill, activity panel) — ratio ≈ 10 vs events_x10 is the pass bar,
same contract as corpus_x100.

r07 local-artifact arbitration (BENCH_LOCAL refresh on the r07 code):
four entries moved past the noise rule vs the r06-tail artifact with
UNCHANGED code — all four arbitrated to host noise by the solo
best-of-3 x3 protocol: simhash_full corpus_x10 2.64->3.23 in-tier but
2.35-2.47 solo (below the old value); curated_corpus corpus_x10
1.11->1.42 in-tier, 0.95-1.24 solo; doc_exact_dedup headline
0.30->0.53 in-tier, 0.39-0.46 solo (sub-second noise band);
user_funnel_times events_x100 1.17->1.50 in-tier, 1.35-1.57 solo
(min +15%, inside the +20% rule). In-tier numbers inherit contention
from the preceding tiers in the same JVM; the solo protocol remains
the arbiter.

r07 late additions: a markets_x100 section (60M lineitem rows — 10x
tickers x 10x series depth; OHLCV/drawdown/beta/pair-corr plus the
flagship weekly_volatility) gives the FINANCE tier the same measured
decade corpus/events already carry; contamination_bloom joins
corpus_x10 (the Bloom-pre-gated decontamination A/B twin at 50k docs;
it postdates the committed BENCH_LOCAL refresh — its first numbers
land in the driver's BENCH_r07).

r07 final-refresh arbitration: the first refresh attempt hit a
transient co-tenant burst (30+ unchanged-code entries +20-50%
TOGETHER, including headline entries that run before any new code;
spot solos immediately after came back AT or BELOW the committed
values — csv_ingest 0.603-0.683 vs in-run 0.983, tfidf 0.906-1.006 vs
1.649), so it was discarded and re-run. The clean rerun is flat on the
headline (11.99 vs 11.98) with four drifts past the rule, each solo
best-of-3 x3 arbitrated: ohlcv_weekly_bars markets_x10 1.237->1.499
(solo 1.420-1.773, min +15% — host steady-state shift, unchanged
plan); edit_dist_dups 1.851->2.223 (solo 2.308-2.615 — consistent
host shift, unchanged code);
corpus_x100 minhash_full 15.9->19.3 (solo 17.6-18.1, min +11% —
inside the rule; noise). markets_x100 decade ratios vs markets_x10,
same-run: 8.9x (ohlcv), 8.2x (drawdown), 8.6x (beta), 6.9x
(pair-corr) for 10x rows — SUB-linear across the finance chain; the
flagship weekly_volatility at x100 runs 7.6 s = 13.9x its sf0.1
headline point for 100x rows.

r08 arbitration (carried flag from r07, re-measured solo best-of-3
x3 on a quiet host, load < 1/32):

- weekly_volatility markets_x100 (r07 discrepancy: note said 7.6 s,
  committed BENCH_LOCAL said 11.925 s): solo sets 6.452 / 7.053 /
  6.826 s. The NOTE was right and the committed artifact inherited
  an r07 host cluster. RESOLVED: decade ratio = 6.45/0.634 ~=
  10.2x for 100x rows — in line with the rest of the finance chain
  (8-9x), NOT the 18.8x the bad artifact implied; no plan work
  needed (the window sort scales as advertised).

r08 MG-kernel measurement (the r07 verdict asked for a value_counts+
pandas-merge rewrite of the Misra-Gries pass-1 kernel, "measured
speedup recorded"): measured at 2M tokens/partition (10k-row Arrow
batches, capacity 4096), the ASKED-FOR rewrite is a LOSS — 1.3M tok/s
vs the per-token dict kernel's 3.5-3.9M (object-dtype index alignment
per batch exceeds the amortized-O(1) dict cost; the decrement sweep
fires at most once per `capacity` insertions, so the old kernel was
never O(N x capacity)). The SHIPPED kernel uses Counter.update
(C-level _count_elements) with threshold-scheduled summary trims:
9.0M tok/s on a zipf stream and 9.7M on an adversarial all-distinct
stream — ~3x the original kernel on both, same mergeable-summaries
n/(capacity+1) bound. heavy_hitters corpus_x10 wall stays
scan-dominated either way (solo 1.452-1.994 vs 1.42 committed).

r08 full refresh (quiet host, load < 1.1/32 at start): headline total
13.449 vs 12.944 r07 (+4%, unchanged entry list); per-query deltas ALL
inside the noise rule — the largest, star_revenue +44% at 0.730 s and
pricing_summary +35% at 0.297 s, are sub-second (<50% band), and the
only multi-second mover is ticker_beta 1.011 -> 0.773 (an improvement).
The refresh CORROBORATES the r08 arbitration in-tier:
weekly_volatility markets_x100 = 6.400 s (solo band 6.45-7.05; the old
11.925 artifact was the r07 host cluster — decade ratio now reads
10.8x for 100x rows).

r08 corpus_prep (the new E2E quality->dedup->rebalance->split funnel)
measured 1.954 s solo at corpus_x10 (50k docs) — comparable to
curated_corpus (1.215 in-tier), as expected for a map-side funnel
whose only shuffle is the dedup fingerprint aggregate; joins the
corpus_x10 tier per-round from r08.

r09 HOST-REGIME finding (supersedes per-entry arbitration for broad
shifts): this round's refresh measured nearly EVERY unchanged entry
+20-40% vs the driver's r08 artifact (median ~+25%), and spot solos
in fresh JVMs REPRODUCED today's values (tpc 0.38-0.60, pagerank
1.52-2.09, token_stats 0.14-0.29) rather than r08's — so the shift is
the HOST's day-scale regime (co-tenancy/frequency), not a burst to
discard and not plan changes (zero code changes to those paths). The
stable cross-regime quantity is the RATIO between same-day anchors:
the flagship sf0.1 anchor moved 0.634 -> 0.87 s solo by the SAME
~1.37x factor as its x100 point (6.4-7.0 -> 8.6-9.2 s solo), keeping
the decade ratio at ~10x. Arbitration rule going forward: when a
cross-round delta passes the noise rule, first check whether the
WHOLE artifact shifted together; if so, compare same-day ratios, and
solo-arbitrate only entries whose delta exceeds the regime multiplier.

r09 flagship arbitration (the r08 verdict's What's wrong #1 — the
solo 6.5-7.0 vs driver in-tier 11.8-11.9 contradiction): RESOLVED as
host regime, not tier state, by a same-day three-way decomposition:
in-tier 8.100 s / post-hygiene (clearCache + JVM GC + Python GC)
7.440 s / fresh-JVM solo 8.59-9.16 s — in-tier sits INSIDE the
same-day solo band, so there is NO systematic tier effect when all
three run in one regime; hygiene is worth a real but modest ~8%. The
r08 "6.4-7.0 solo" and the driver's "11.8 in-tier" were measured on
different host-days (regimes ~1.4x apart), which is the entire gap.
Same-day decade ratio: x100 8.10-9.16 over sf0.1 0.764-0.872 =
9.9-10.6x for 100x rows — the sub-linear window sort holds; no plan
work needed. The markets_x100 section now PERMANENTLY records both
weekly_volatility (in-tier) and weekly_volatility_posthygiene, so
every future driver run decomposes itself: posthygiene << in-tier
means reclaimable JVM state; both high means that run's regime.

r09 arbitrations of entries past the rule BEYOND the ~1.25x regime
multiplier (all solo best-of-3 x3, quiet host):
- ticker_pair_correlation (r08 flag: 0.406 r07 -> 0.580 r08): solo
  sets 0.470-0.601 / 0.421-0.444 / 0.377-0.431 across three fresh
  JVMs — the THREE-JVM SPREAD SPANS BOTH recorded rounds, so the
  r07/r08 "oscillation" is this entry's ordinary jitter band.
  RESOLVED: steady state 0.38-0.60 s; both recorded values are
  in-band; no plan change (operators/markets.py untouched both
  rounds).
- weekly_activity_panel events_x100 (+232% in-tier, 3.07 -> 10.21):
  solo 3.082 / 3.347 / 3.675 — at the r08 value; the 10.2 was an
  in-tier stall (all three trials of one entry on a 10M-row tier).
  Steady ~3.1-3.7 s.
- dup_spans corpus_x100 (+80% in-tier, 13.9 -> 25.1): solo 14.764 /
  15.994 / 16.298 — r08's 13.9 plus the regime factor; the 25.1 was
  an in-tier stall. Steady ~15-16 s.
- doc_token_stats headline (+115% sub-second): solo 0.143-0.294; the
  committed r08 0.110 was an unusually fast min. In-band noise.

r09 stored-sketch decade (verdict #6 — the "coarser rollups never
rescan raw" claim now carries measured x100 evidence; solo quiet-host
numbers, 10x USER cardinality per decade): hll_user_rollup 0.247 s at
x10 -> 0.301 s at x100 (1.2x for 10x users), weekly_value_quantile_
rollup 0.594 -> 0.574 (~1.0x), weekly_user_kmv_rollup 0.933 -> 1.912
(2.0x). All FAR sub-linear: the rollup reads scale with distinct
(day, sketch) rows, not with raw events — exactly the stored-sketch
argument. All three entries now run per-round at BOTH tiers
(hll_user_rollup joins EVENTS_X10/EVENTS_X100 this round).

r09 SECOND same-day refresh (after the late additions; the committed
BENCH_LOCAL): headline 13.078 (first run 15.335 — the regime relaxed
~15% within the day, underscoring the ratio rule), and the run
CORROBORATES every r09 arbitration: weekly_activity_panel x100 back
at 3.220 (the first run's 10.2 was a stall), flagship in-tier 8.488
vs post-hygiene 8.843 — hygiene is NOISE-level here (the first run's
-8% was too), which cements the decomposition: there is NO
reclaimable tier state; same-day in-tier == solo == the honest
number, and cross-day gaps are regimes. One new flag, arbitrated
immediately: ticker_beta markets_x100 13.089 -> 16.166 (+24%) with
solo best-of-3 x2 at 12.422 / 13.073 — at the prior level; in-tier
jitter on a 60M-row entry, not a plan change (operators/markets.py
untouched this round).

r10 star_revenue arbitration (the r09 verdict's What's wrong #2 —
+48%, 0.536 -> 0.794, the one headline entry past the regime
multiplier without a written arbitration): solo best-of-3 x3 in
fresh JVMs measured 0.658 / 0.600 / 0.769 s best — the r09 driver
value 0.794 sits at the top of the solo band and r08's 0.536 times
the r09 regime factor (~1.3x) lands inside it; sub-second noise on
an unchanged plan (plans/analytics.py untouched r08-r10), not a
plan change. Steady state ~0.60-0.77 s in the current regime.
star_revenue also rotates back into the driver window this round so
the arbitration carries a fresh driver row.

r10 protocol addition: every refresh records regime_anchor (the
same-day flagship triplet) in the artifact; tools/regime_delta.py
prints regime-NORMALIZED round-over-round deltas so cross-round
comparison starts from the anchor ratio instead of absolute walls
(it mechanically reproduces the r09 host-regime arbitration:
BENCH_r08 -> BENCH_r09 regime 1.185, sole surviving flag
part_supplier_pagerank +28% normalized — the entry r09
solo-arbitrated).

r10 final-refresh arbitrations (regime 0.983 vs r09 — same regime,
so normalized == raw; every flag solo-arbitrated best-of-3, fresh
JVMs, and NONE is a plan change — no code touched any flagged path
this round; plan-shape pins all green):
- corpus_x10 minhash_sigs 1.083 -> 1.361 (+28%): solo 1.36/1.88/1.36
  — recorded value IS the solo floor; the old 1.083 was a fast min.
- minhash_full_portable 4.969 -> 6.352 (+30%): solo 4.94/5.29/4.95 —
  below the recorded in-tier value and at the old one; in-tier stall.
- events_x100 weekly_activity_panel 2.927 -> 3.990 (+39%): solo
  4.26/3.61 — at the recorded value; the r09 steady band (3.1-3.7)
  widened ~10% today. weekly_user_kmv_rollup 1.514 -> 2.208 (+48%):
  solo 1.90/1.84 — between the rounds; in-tier high.
- markets_x100 (the 60M-row tier, ran last even with reclaim()):
  ohlcv 15.0 -> 19.6 (+33%): solo 17.1/14.8 — recorded was in-tier
  high, band straddles r09; drawdown 7.1 -> 10.2 (+45%): solo
  7.1/9.3 (trials to 11.9) — widest jitter of the day, band spans
  both rounds; beta 13.5 -> 16.9 (+27%): solo 14.5/18.0 — recorded
  mid-band. The flagship INSIDE the same tier was steady
  (8.3-8.6 in-tier vs 8.59-9.16 r09 solo band), which is exactly
  why the anchor triplet, not per-entry absolutes, carries the
  cross-round signal.

r10 SECOND same-day refresh (the committed BENCH_LOCAL; the r09
corroboration precedent): regime 1.044 vs the first refresh, and it
CORROBORATES every r10 arbitration — minhash_full_portable back at
4.634 (solo band 4.94-5.29), weekly_activity_panel 3.16 (the r09
steady state), weekly_user_kmv_rollup 1.604, ticker_max_drawdown
7.625, ohlcv 15.58, beta 14.37 (all flagged x100 values regressed to
the mean — in-tier jitter, as arbitrated). First in-tier numbers for the
crawl-prep stages at 50k docs: html_extract 0.443 s,
paragraph_dedup 0.776 s — both the linear map/window shapes their
plans pin.

r11 brand_scores arbitration (the r10 verdict's What's wrong #1 —
+68%, 0.161 -> 0.270 driver-to-driver, the one flagged headline
entry without a band on record): solo best-of-3 x3 in fresh JVMs
measured 0.288 / 0.242 / 0.283 s best. The r10 driver value 0.270
sits mid-band; the r09 0.161 was a fast min below today's floor —
the doc_token_stats class of sub-second tiny-entry jitter on an
unchanged plan (operators/scoring.py untouched since r08; plan pin
green). Steady state ~0.24-0.29 s in the current regime.

r11 refresh (two same-day runs; the committed BENCH_LOCAL is the
FIRST): regime 1.043 vs the r10 artifact (anchor 0.679 -> 0.708).
First numbers for the r11 stages: c4_filter 0.53 s / url_dedup
0.72 s at 50k docs (both linear map/window shapes, the html_extract
class).

r11 arbitration by second refresh (regime 0.918 run-to-run):
flagship_posthygiene (11.94 -> 8.10 vs r10 7.16) and
weekly_user_kmv_rollup (1.00 -> 0.78 vs r10 0.63) ran high in run 1
and back at the r10 mean in run 2 — the late-tier JVM-state pattern
the r10 notes document: transients, not drift.

r11 one-off crawl-stage x100 decade (500k docs, same contract as the
other one-offs): html_extract 0.598 s (1.4x for 10x docs),
c4_filter 0.962 s (1.8x), url_dedup 0.849 s (1.2x),
paragraph_dedup 0.943 s (1.4x). Honest reading: at this absolute
scale all four are OVERHEAD-dominated (sub-second walls on 32
cores), so the ratios mostly measure fixed cost, not the linear
map/window terms — the decade evidence is that NOTHING in these
shapes grew super-linearly when the explode/window row counts grew
10x, which is what their plans (generate + id-keyed agg; one
8-byte-keyed window) predict.

r12 refreshes (two same-day runs; the committed BENCH_LOCAL is the
second): run1 headline 12.985 s (regime 0.832 — fast), run2 14.531 s
(regime 1.197 — the documented host-wide wander, same hour); regime-
normalized, tools/regime_delta.py reports NOTHING past the noise
threshold in either run. The crawl decade is now the permanent
crawl_x100 section. Arbitration on url_canonical_dedup (r11 one-off
0.849): run1 measured the UNGUARDED ~90-replace percent-decode chain
at 1.307 (≈1.57 r11-regime units, +85% — a real cost); gating the
chain behind a per-row contains('%') branch (4x on the decode stage
at a 10%-encoded mix, 2M urls) brought run2 to 1.440 (≈1.20
r11-units). The residual ≈ +0.35 r11-units is the gate's OWN r12
growth — 4-variant quad families (one of them percent-encoded, which
DOES walk the chain) + the %-scan — a sub-1.5 s overhead-dominated
stage per the decade's honest reading.

r13 refresh: headline 20.202 under an ANOMALOUS SPLIT REGIME — the
triplet diverges within one run (flagship sf0.1 1.325 = 1.84x r12,
but x100 in-tier 8.711 and post-hygiene 8.286 = 0.89x r12): per-task
overhead roughly doubled host-wide while THROUGHPUT improved ~10%,
so every sub-second overhead-dominated entry inflated ~1.8-3x
together and every multi-second entry is flat-to-better
(ohlcv 2.069, minhash 1.072, pagerank regime-normalized -27%). No
plan touching the inflated queries changed this round (git: plans/
and operators/markets untouched); a fresh idle JVM reproduces the
inflation (ticker_metrics 1.148 cold / 0.783 warm vs r12's 0.467),
confirming host state, not code. Read r13 deltas against the x100
anchors, not the sf0.1 anchor. The rule-change watch item held:
crawl_x100.url_canonical_dedup 1.388 vs r12's 1.440 — the r13
scheme-fold + userinfo rules (one extra regexp_replace + a when) are
free at the decade, even in the slow-overhead regime. New r13
entries: corpus_x10.span_removal 4.341 vs dup_spans 2.856 (the full
rewrite — one h-shuffled 3-window pass + coverage explode + id-keyed
reassembly — costs 1.5x the stats-only signal at 50k docs).
span_removal joins the corpus_x100 decade: 21.933 s at 500k docs vs
4.341 at 50k (5x for 10x — sublinear) and 1.23x the dup_spans
stats-only pass at the decade (17.836) — the rewrite's whole extra
bill is the bounded coverage explode + the reassembly join.

r13 addendum (run3, same day — the COMMITTED BENCH_LOCAL): the split
regime RELAXED (flagship 0.694 / x100 8.525 — right at the r12
anchors), headline 15.187, confirming run1's 20.2 was transient host
state, exactly the documented wander. All new entries present:
corpus_x100.span_removal 39.782 IN-TIER (vs 21.9 solo — it runs
after dedup_clusters' checkpoint blocks; a between-entries reclaim
now precedes it after one observed run died in GCLocker allocation
stalls there — the r10 storage-headroom failure mode, not a plan
problem), crawl url stage 1.149.

r14 refresh: headline 14.606, MILD SLOW REGIME (factor 1.281 on the
flagship anchor 0.616 -> 0.789; regime_delta normalizes EVERY stage
to flat-or-better — no regression anywhere, no arbitration needed).
The r13 watch item closed: ticker_pair_correlation 0.708 -> 0.481
raw (the r13 doubling was the split regime, as suspected). Rule-change
watch: crawl_x100.url_canonical_dedup 1.727 raw / ~1.35 normalized vs
r13's 1.388 — the r14 port-aware fold gate (one rlike on the stripped
host) is free at the decade. New r14 crawl_x100 entries:
unicode_fold_raw 0.804 at 500k docs (the exact-normalization operator
over the whole fixture — the ASCII-majority detector keeps it a
JVM-side filter scan, ~1.1x the html_extract stage) and
unicode_fold_dedup 2.081 (the gate chain: Arrow NFKC kernel over the
planted non-ASCII quints + the fingerprint hash-agg).

r14 addendum (run2, same day — the COMMITTED BENCH_LOCAL): the regime
relaxed mid-day exactly as in r13 (headline 14.606 -> 12.629, every
tier moved together). crawl_x100 url stage 1.191 (r13 1.149 — the port gate
confirmed free), unicode_fold_raw 0.649 / unicode_fold_dedup 1.373 at
500k docs.

r15 notes (regime 0.852 vs r14 — machine faster; headline 12.223):
NEW priced lines — corpus_x10.decontam_near_dup 2.902 and corpus_x100.
decontam_near_dup 9.562 — the x100/x10 ratio is 3.3x for 10x corpus
against the same construction (the benchmark-broadcast shape holds:
the corpus side's bill is its signature agg, not the cross join).
ARBITRATION (this round's movers, all resolved as JVM-state — the
bench run logged GCLocker allocation-stall warnings in the late
tiers, the known r10 non-evictable-checkpoint pressure): regime_delta
flagged part_supplier_pagerank 2.018 in-tier (+30% normalized) —
fresh-JVM solo 4.293/2.206/1.696, min BELOW the r14 1.820; the r14
watch item markets_x100 moved together against a FLAT anchor
(in-tier drawdown 8.695 / pair_corr 9.709 / beta 14.544) — fresh-JVM
solos: drawdown 7.363, pair_corr 5.828 (below r14's 7.40), beta
truly-solo 11.472 (below r13's 11.7; a stacked-solo run of beta
AFTER two other x100 queries in one JVM read 15.4, reproducing the
pressure). No code touched any of these paths this round; in-tier
numbers stay recorded as the honest-under-pressure figures per the
r08 decomposition protocol.

r15-OPTIMIZATION notes (optimization round 1; full evidence in
OPTIMIZATION_r15.md, plans in plans/r15/): DELIBERATE deltas to
expect vs the r15 build-round artifact — ohlcv_weekly_bars ~-45%
everywhere (pre-partitioned sparse-series bars: the map-side
SortAggregate pass sorted 60M rows to reduce 4%); ticker_beta ~-35%
at x100 (reuse_daily localCheckpoint: the LAG-window subtree planned
twice); span_removal -40-60% (interval coverage instead of exploded
positions + xxhash64-pair span keys); dup_spans ~-15% (one span
exchange removed, fixed-width keys); dsir_weights -20-30% (bucket
histogram checkpointed); the whole single-pass corpus family
(html/c4/chunking/token_stats/exact_dedup/inverted_index/pmi...)
-10-40% at multi-file tiers (fan_out now skips the raw-payload
repartition when the input already scans in >= target partitions —
scan-like plans only). Entries that must NOT drift: repetition /
tfidf keep forced fan-out exchanges (multi-consumer sharing — the
first optimization re-bench caught the skip regressing them 1.4-2.4x
and they were individually A/B'd back); simhash A/B'd as a tie and
keeps the skip.
Methodology unchanged: same queries, same best-of-3 noop-sink
timing, same fixtures; no measurement-path edits this round.

r15 addendum: the estimator/triage tiers priced (solo, fresh JVM,
50k docs, threshold 0.5, best-of-3): minhash_full 4.079 /
minhash_est 2.317 / minhash_triage 3.539 — the signature-only
estimator is 1.76x the exact pipeline, i.e. the gram-rehydration
verify is ~43% of the exact bill at this scale, exactly the term
the tier exists to skip (it grows with document length — 50k-doc
fixtures have short docs, so this is the CONSERVATIVE end of the
claim); triage sits between, paying rehydration only for the
borderline band plus its eager candidate checkpoint. Permanent
corpus_x10 lines minhash_est / minhash_triage added beside
minhash_full.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def sf_from_dir(d: str) -> float:
    base = os.path.basename(d.rstrip("/"))
    try:
        return float(base.removeprefix("sf"))
    except ValueError:
        return -1.0


#: Headline set: the flagship chain + one representative per operator family.
BENCH_QUERIES = [
    "weekly_volatility",
    "top_avg_volatility",
    "ticker_metrics",
    "pricing_summary",
    "star_revenue",
    "volume_leaders",
    "latest_event_per_user",
    "purchase_attribution",
    "rolling_close_avg",
    "brand_scores",
    "doc_token_stats",
    "doc_exact_dedup",
    "curated_corpus",
    "minhash_lsh_near_dups",
    # r04 wave-4 (market tier): NEW entries — the headline total therefore
    # grows vs r03 by construction; compare per-query, not the sum.
    "ohlcv_weekly_bars",
    "ticker_max_drawdown",
    "ticker_beta",
    "doc_source_quota_sample",
    "part_supplier_pagerank",
    # r05: NEW entries (headline total grows by construction; compare
    # per-query, not the sum)
    "ticker_pair_correlation",
    "doc_weighted_sample",
]


#: Corpus-scale section (dedup tier at 10x documents). sf0.1's 5k docs
#: under-exercise banding skew; a deterministic 10x perturbed fixture (50k
#: docs, each doc in a 10-member near-dup family) is built
#: once per run and the tier is timed per-stage. Reported under the
#: separate "corpus_x10" key — NOT folded into the headline total, so the
#: headline stays comparable across rounds. Disable with SPARK_GRAFT_X10=0.
X10_LIFT = 1_000_000


def build_x10_fixture(spark, tmp: str) -> str:
    from pyspark.sql import functions as F

    x10 = f"{tmp}/x10"
    copies = spark.range(10).withColumnRenamed("id", "copy")
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    (
        docs.crossJoin(copies)
        .select(
            (F.col("doc_id") + F.col("copy") * X10_LIFT).alias("doc_id"),
            # copy 0 is the original; copies 1-9 append one revision token,
            # perturbing only the trailing shingles -> a 10-member near-dup
            # family per source doc (realistic LSH bucket occupancy/skew)
            F.when(F.col("copy") == 0, F.col("text"))
            .otherwise(
                F.concat_ws(" ", "text", F.concat(F.lit("rev"), "copy"))
            )
            .alias("text"),
            "lang",
            "source",
            "n_chars",
        )
        .repartition(32)
        .write.mode("overwrite")
        .parquet(f"{x10}/documents.parquet")
    )
    return x10


def _contamination_exact_x10(spark, x10: str):
    """The retired doc_contamination gate's body (r11 merged the gates
    into doc_contamination_dual; the bench keeps per-path timings)."""
    from pyspark.sql import functions as F

    from airflow_etl_finance_market_spark.operators.corpus import (
        contamination_flags,
    )

    docs = spark.read.parquet(f"{x10}/documents.parquet")
    return contamination_flags(
        docs.filter(F.col("doc_id") % 50 != 0),
        docs.filter(F.col("doc_id") % 50 == 0),
        n=3,
    )


def _contamination_bloom_x10(spark, x10: str):
    """The retired doc_contamination_bloom gate's body (see above)."""
    from pyspark.sql import functions as F

    from airflow_etl_finance_market_spark.operators.bloom import (
        bloom_pregated_contamination,
    )

    docs = spark.read.parquet(f"{x10}/documents.parquet")
    return bloom_pregated_contamination(
        docs.filter(F.col("doc_id") % 50 != 0),
        docs.filter(F.col("doc_id") % 50 == 0),
        n=3,
    )


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def reclaim(spark) -> None:
    """Release reclaimable JVM state between heavy tiers: clearCache +
    driver GC (+ Python GC). localCheckpoint blocks (the CC rounds in
    dedup_clusters, gate-style checkpointed frames) are NON-EVICTABLE
    storage until ContextCleaner notices the RDD is unreachable — which
    needs a driver GC. Without this, the last tier in the JVM
    (markets_x100) inherits every prior tier's leftover blocks and the
    8g unified manager can hit UNABLE_TO_ACQUIRE_MEMORY on its 60M-row
    window sorts (first seen r10 as the bench grew). Called at the top
    of each x100 section; cheap (~100 ms), and the flagship's
    in-tier/posthygiene pair already showed hygiene is TIMING-neutral —
    this is about storage headroom, not speed."""
    import gc

    spark.catalog.clearCache()
    spark.sparkContext._jvm.System.gc()
    gc.collect()


def best_of_3_each(jobs) -> dict[str, float]:
    """One best-of-3 wall-clock per named thunk — the tier protocol
    (every tier runs best-of-3 since r07; this is the ONE copy of the
    loop the protocol changes in)."""
    out: dict[str, float] = {}
    for name, thunk in jobs.items():
        best = float("inf")
        for _ in range(3):
            t0 = time.perf_counter()
            thunk()
            best = min(best, time.perf_counter() - t0)
        out[name] = round(best, 3)
    return out


def entry_jobs(spark, qs, names, fixture_dir):
    """name -> thunk for registry entries timed against a fixture dir."""

    def mk(name):
        return lambda: noop(qs[name](spark, fixture_dir))

    return {name: mk(name) for name in names}


def build_x10_market_fixture(spark, tmp: str) -> str:
    """10x lineitem (6M rows at sf0.1): same tickers (l_partkey), so each
    instrument's series is 10x deeper — the dimension that stresses the
    market tier's per-key window sorts and daily aggregates. l_orderkey
    shifts per copy to keep the (ts, ok, ln) total order unique, and each
    copy's price shifts +copy% so bars/returns stay non-degenerate."""
    from pyspark.sql import functions as F

    x10m = f"{tmp}/x10m"
    copies = spark.range(10).withColumnRenamed("id", "copy")
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    (
        li.crossJoin(copies)
        .withColumn(
            "l_orderkey", F.col("l_orderkey") + F.col("copy") * X10_LIFT
        )
        .withColumn(
            "l_extendedprice",
            F.round(
                F.col("l_extendedprice") * (1 + F.col("copy") / 100.0), 2
            ),
        )
        .drop("copy")
        .repartition(32)
        .write.mode("overwrite")
        .parquet(f"{x10m}/lineitem.parquet")
    )
    return x10m


#: Market-tier entries timed against the 10x lineitem fixture — the same
#: scaling evidence the dedup tier has had since r02 (VERDICT r04 #6).
MARKETS_X10 = [
    "ohlcv_weekly_bars",
    "ticker_max_drawdown",
    "ticker_beta",
    "ticker_pair_correlation",
]


def markets_x10_section(
    spark, qs, tmp: str
) -> tuple[dict[str, float], int]:
    x10m = build_x10_market_fixture(spark, tmp)
    n_rows = spark.read.parquet(f"{x10m}/lineitem.parquet").count()
    return best_of_3_each(entry_jobs(spark, qs, MARKETS_X10, x10m)), n_rows


#: Event-tier entries timed against a 10x events fixture: 10x the USER
#: cardinality (each copy shifts user_id), the dimension that stresses the
#: user-keyed shuffles funnels/retention/ffill are built on.
EVENTS_X10 = [
    "user_funnel_times",
    "user_retention_cohorts",
    "event_transition_matrix",
    "top_event_trigrams",
    "events_daily_ffill",
    # r06: the ffill + mergeable-HLL weekly composition (pipeline surface)
    "weekly_activity_panel",
    # r07: the mergeable-histogram quantile rollup (stored-sketch family)
    "weekly_value_quantile_rollup",
    # r08: the KMV bottom-k theta sketch rollup (set-intersection
    # estimates; postdates the committed r08 BENCH_LOCAL refresh — first
    # numbers land in the driver's BENCH_r08, the contamination_bloom
    # precedent)
    "weekly_user_kmv_rollup",
    # r09: the HLL rollup joins so all three stored-sketch reads carry
    # per-round x100/x10 ratios (solo-measured 0.247 s at x10)
    "hll_user_rollup",
]


def build_x10_events_fixture(spark, tmp: str) -> tuple[str, int]:
    from pyspark.sql import functions as F

    from airflow_etl_finance_market_spark.sources.readers import load_fixture

    x10e = f"{tmp}/x10e"
    copies = spark.range(10).withColumnRenamed("id", "copy")
    ev = load_fixture(spark, SF_DIR, "events")  # nanos handled -> NTZ ts
    (
        ev.crossJoin(copies)
        .withColumn("user_id", F.col("user_id") + F.col("copy") * X10_LIFT)
        .withColumn("event_id", F.col("event_id") + F.col("copy") * X10_LIFT)
        .drop("copy")
        .repartition(32)
        .write.mode("overwrite")
        .parquet(f"{x10e}/events.parquet")
    )
    n = spark.read.parquet(f"{x10e}/events.parquet").count()
    return x10e, n


def events_x10_section(spark, qs, tmp: str) -> tuple[dict[str, float], int]:
    x10e, n_rows = build_x10_events_fixture(spark, tmp)
    return best_of_3_each(entry_jobs(spark, qs, EVENTS_X10, x10e)), n_rows


#: User-keyed state tier at 100x USER cardinality (10M events) — the
#: measured decade for funnel/retention/ffill/activity-panel, the same
#: contract corpus_x100 gave the dedup chain (r06 verdict #6). Pass bar:
#: x100/x10 wall-clock ratio ≈ 10 (linear in users); materially
#: super-linear needs an arbitration note.
EVENTS_X100 = [
    "user_funnel_times",
    "user_retention_cohorts",
    "events_daily_ffill",
    "weekly_activity_panel",
    # r09 (verdict #6): the STORED-SKETCH trio's decade point — the
    # "coarser rollups never rescan raw" claim is the 100 TB argument
    # and needed x100 evidence. Each entry times daily-sketch build +
    # weekly rollup read end-to-end (the sketches are rebuilt in-query;
    # a deployment stores them, so these numbers UPPER-bound the read).
    "hll_user_rollup",
    "weekly_value_quantile_rollup",
    "weekly_user_kmv_rollup",
]


def build_x100_events_fixture(spark, tmp: str) -> tuple[str, int]:
    """100 copies, each shifting user_id AND event_id: 100x the user
    cardinality with the per-user event-sequence shape unchanged — the
    honest scale-up for operators that shuffle and hold state BY USER
    (family size constant, keys 100x, exactly the dimension the
    liveness-bounded-state claim is about)."""
    from pyspark.sql import functions as F

    from airflow_etl_finance_market_spark.sources.readers import load_fixture

    x100e = f"{tmp}/x100ev"
    copies = spark.range(100).withColumnRenamed("id", "copy")
    ev = load_fixture(spark, SF_DIR, "events")
    (
        ev.crossJoin(copies)
        .withColumn("user_id", F.col("user_id") + F.col("copy") * X10_LIFT)
        .withColumn("event_id", F.col("event_id") + F.col("copy") * X10_LIFT)
        .drop("copy")
        .repartition(64)
        .write.mode("overwrite")
        .parquet(f"{x100e}/events.parquet")
    )
    n = spark.read.parquet(f"{x100e}/events.parquet").count()
    return x100e, n


def events_x100_section(spark, qs, tmp: str) -> tuple[dict[str, float], int]:
    reclaim(spark)
    x100e, n_rows = build_x100_events_fixture(spark, tmp)
    return best_of_3_each(entry_jobs(spark, qs, EVENTS_X100, x100e)), n_rows


#: Finance tier at 100x lineitem (60M rows at sf0.1): 10x ticker
#: cardinality x 10x per-ticker series depth — the two dimensions the
#: chain's hash-aggs (key space) and per-key window sorts (partition
#: depth) actually scale in, and the reference's own domain (the decade
#: corpus/events already have). weekly_volatility rides along: it is
#: the flagship headline query. Pass bar, same contract as the other
#: decades: x100/x10 wall-clock ratio ≈ 10 (linear), arbitration note
#: otherwise.
MARKETS_X100 = MARKETS_X10 + ["weekly_volatility"]


def build_x100_market_fixture(spark, tmp: str) -> tuple[str, int]:
    """100 copies of sf0.1 lineitem: l_partkey (the ticker) shifts on
    copy%10 -> 10x instruments, l_orderkey shifts per copy -> each
    instrument carries 10 depth-copies of its series (unique total order),
    price shifts +copy% so bars/returns stay non-degenerate."""
    from pyspark.sql import functions as F

    x100m = f"{tmp}/x100m"
    copies = spark.range(100).withColumnRenamed("id", "copy")
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    (
        li.crossJoin(copies)
        .withColumn(
            "l_orderkey", F.col("l_orderkey") + F.col("copy") * X10_LIFT
        )
        .withColumn(
            "l_partkey",
            F.col("l_partkey") + (F.col("copy") % 10) * X10_LIFT,
        )
        .withColumn(
            "l_extendedprice",
            F.round(
                F.col("l_extendedprice") * (1 + F.col("copy") / 100.0), 2
            ),
        )
        .drop("copy")
        .repartition(64)
        .write.mode("overwrite")
        .parquet(f"{x100m}/lineitem.parquet")
    )
    n = spark.read.parquet(f"{x100m}/lineitem.parquet").count()
    return x100m, n


def markets_x100_section(
    spark, qs, tmp: str
) -> tuple[dict[str, float], int]:
    """The tier runs LAST in the bench JVM, and two rounds of driver
    runs measured the flagship at 11.8-11.9 s in-tier vs 6.5-7.0 s solo
    (r08 verdict, What's wrong #1) — a SYSTEMATIC in-tier effect, not
    host noise. To decompose it, the flagship is measured twice: once
    under whatever state the preceding tiers left behind (the honest
    in-tier number, recorded under its own name like every round), then
    once more after an explicit hygiene step (clearCache + JVM GC +
    Python GC) under ``weekly_volatility_posthygiene``. If hygiene
    closes the gap, the pressure is reclaimable JVM state and the
    hygiene step is the protocol fix; if it doesn't, the residual is
    OS-level (page cache) and the in-tier number is the
    scale-representative one. Either way both numbers land in the
    artifact so the arbitration is reproducible."""
    reclaim(spark)
    x100m, n_rows = build_x100_market_fixture(spark, tmp)
    out = best_of_3_each(entry_jobs(spark, qs, MARKETS_X100, x100m))
    import gc

    spark.catalog.clearCache()
    spark.sparkContext._jvm.System.gc()
    gc.collect()
    out["weekly_volatility_posthygiene"] = best_of_3_each(
        entry_jobs(spark, qs, ["weekly_volatility"], x100m)
    )["weekly_volatility"]
    return out, n_rows


#: Dedup/CC chain timed at 100x documents (500k) — the measured decade of
#: scaling (x100/x10 ratio ≈ 10 expected) the 100 TB posture rests on.
CORPUS_X100 = [
    "minhash_full", "dedup_clusters", "dup_spans",
    # r07: the published-filter tier's decade — gopher is the map-only
    # linear bound, dsir proves the bucket-agg + broadcast-ratio-join
    # shape holds when the occurrence stream grows 10x
    "gopher_flags", "dsir_weights",
    # r13: the removal twin's decade — proves the one-h-shuffle
    # 3-window pass + coverage explode + reassembly join stay linear
    # when the span stream grows 10x
    "span_removal",
    # r15: the cross-frame decontamination decade — proves the
    # corpus side's bill stays one signature agg (bench side
    # broadcast; candidates cross-side only) when the corpus grows
    # 10x against a ~20k-doc benchmark
    "decontam_near_dup",
]


def build_x100_docs_fixture(spark, tmp: str) -> str:
    """500k docs as 50k near-dup families of 10 — the HONEST 100x.

    Naively crossJoining 100 copies of the x10 perturbation would make
    every family 100 members wide, and LSH candidate generation (C(f,2)
    per bucket) would grow QUADRATICALLY in the copy count — a fixture
    artifact, not an engine property. Instead each copy splits into
    (group g = copy//10, member m = copy%10): members differ by one
    trailing revision token (the x10 recipe — 10-member families), and
    each GROUP applies a distinct vowel-substitution cipher via
    translate() (length-preserving, JVM-side) that rewrites nearly every
    word, so cross-group shingle overlap collapses far below any
    threshold. Family size stays constant ⇒ candidates, pairs, and CC
    edges all scale LINEARLY with docs, which is exactly the claim the
    x100 point is meant to test.
    """
    import itertools

    from pyspark.sql import functions as F

    perms = sorted(itertools.permutations("aeiou"))
    ciphers = ["".join(perms[i * 12]) for i in range(10)]  # pairwise distinct
    x100 = f"{tmp}/x100"
    copies = spark.range(100).withColumnRenamed("id", "copy")
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    grouped = docs.crossJoin(copies).select(
        (F.col("doc_id") + F.col("copy") * X10_LIFT).alias("doc_id"),
        (F.col("copy") % 10).alias("member"),
        (F.col("copy") / 10).cast("int").alias("group"),
        "text", "lang", "source", "n_chars",
    )
    ciphered = F.lit(None)
    for g, cip in enumerate(ciphers):
        repl = F.translate(
            F.col("text"), "aeiouAEIOU", cip + cip.upper()
        )
        ciphered = (
            repl if g == 0
            else F.when(F.col("group") == g, repl).otherwise(ciphered)
        )
    (
        grouped.select(
            "doc_id",
            F.when(F.col("member") == 0, ciphered)
            .otherwise(
                F.concat_ws(
                    " ", ciphered, F.concat(F.lit("rev"), "member")
                )
            )
            .alias("text"),
            "lang", "source", "n_chars",
        )
        .repartition(64)
        .write.mode("overwrite")
        .parquet(f"{x100}/documents.parquet")
    )
    return x100


def corpus_x100_section(
    spark, qs, tmp: str
) -> tuple[dict[str, float], int]:
    from airflow_etl_finance_market_spark.operators import dedup as D

    reclaim(spark)
    x100 = build_x100_docs_fixture(spark, tmp)
    docs = spark.read.parquet(f"{x100}/documents.parquet")
    n_docs = docs.count()

    def _noop(df):
        df.write.format("noop").mode("overwrite").save()

    jobs = {
        "minhash_full": lambda: _noop(
            D.minhash_dedup_pairs(docs, num_hashes=32, bands=8, threshold=0.1)
        ),
        "dedup_clusters": lambda: _noop(qs["doc_dedup_clusters"](spark, x100)),
        "dup_spans": lambda: _noop(D.duplicate_span_stats(docs, span_tokens=10)),
        "span_removal": lambda: _noop(
            D.duplicate_span_removal(docs, span_tokens=10)
        ),
        "gopher_flags": lambda: _noop(qs["gopher_quality_flags"](spark, x100)),
        "dsir_weights": lambda: _noop(
            qs["dsir_importance_weights"](spark, x100)
        ),
        "decontam_near_dup": lambda: _noop(
            qs["near_dup_decontamination"](spark, x100)
        ),
    }
    # r13: reclaim (outside the timers) before the removal entry —
    # dedup_clusters leaves its CC-round localCheckpoint blocks behind,
    # and the removal pass's h-sorted span stream + per-doc
    # collect_sets on top of them took the 8g JVM into GCLocker
    # allocation stalls on one observed run (the r10 failure mode;
    # reclaim is ~100 ms and timing-neutral per the flagship pair)
    first = [n for n in CORPUS_X100 if n != "span_removal"]
    out = best_of_3_each({name: jobs[name] for name in first})
    reclaim(spark)
    out.update(best_of_3_each({"span_removal": jobs["span_removal"]}))
    return {name: out[name] for name in CORPUS_X100}, n_docs


#: r12: the crawl-prep decade is PERMANENT (r11 verdict #7 — the four
#: stages are pipeline tiers now; one-off numbers rot). Same 500k-doc
#: fixture and contract as corpus_x100. Pass bar: nothing super-linear
#: — at these absolute walls the stages are overhead-dominated (the
#: r11 one-off's honest reading), so the decade's evidence is the
#: SHAPE holding (map-only extract/filter; one 8-byte-keyed window)
#: when explode/window row counts grow 10x, not the ratio itself.
CRAWL_X100 = [
    "html_text_extract", "c4_line_filter",
    "url_canonical_dedup", "doc_paragraph_dedup",
    # r14: the unicode-normalization stage (detector split + Arrow
    # kernel on the planted non-ASCII minority + fingerprint group) —
    # the gate at 500k docs prices the whole fold->exact-dedup chain
    "unicode_fold_dedup",
]


def crawl_x100_section(
    spark, qs, tmp: str
) -> tuple[dict[str, float], int]:
    reclaim(spark)
    x100 = build_x100_docs_fixture(spark, tmp)
    docs = spark.read.parquet(f"{x100}/documents.parquet")
    n_docs = docs.count()

    def _noop(df):
        df.write.format("noop").mode("overwrite").save()

    jobs = {
        name: (lambda n=name: _noop(qs[n](spark, x100)))
        for name in CRAWL_X100
    }
    # r14: the RAW operator over the whole 500k-doc fixture (its text
    # is ASCII-heavy, so this prices the detector's JVM fast path —
    # the 100 TB unit cost of running the stage in front of every
    # fingerprint consumer; the gate line above prices the Arrow
    # kernel via its planted non-ASCII quints)
    from airflow_etl_finance_market_spark.operators.corpus import (
        unicode_normalize_docs,
    )

    jobs["unicode_fold_raw"] = lambda: _noop(unicode_normalize_docs(docs))
    return best_of_3_each(jobs), n_docs


def corpus_x10_section(spark, qs, tmp: str) -> dict[str, float]:
    from pyspark.sql import functions as F  # noqa: F401  (parity with build)

    from airflow_etl_finance_market_spark.operators import dedup as D

    def _ed_dups(docs_df):
        return D.edit_distance_near_dups(docs_df, len_bucket=4)

    x10 = build_x10_fixture(spark, tmp)
    docs = spark.read.parquet(f"{x10}/documents.parquet")

    def _noop(df):
        df.write.format("noop").mode("overwrite").save()

    sigs = D.minhash_signatures(docs, num_hashes=32)
    jobs = {
        # per-stage (cumulative: each stage includes its upstream plan)
        "minhash_sigs": lambda: _noop(D.minhash_signatures(docs, num_hashes=32)),
        "lsh_candidates_cum": lambda: _noop(
            D.lsh_candidate_pairs(sigs, bands=8)
        ),
        "minhash_full": lambda: _noop(
            D.minhash_dedup_pairs(
                docs, num_hashes=32, bands=8, threshold=0.1
            )
        ),
        "minhash_full_portable": lambda: _noop(
            qs["minhash_lsh_near_dups"](spark, x10)
        ),
        "simhash_full": lambda: _noop(
            D.simhash_near_pairs(docs, max_hamming=8)
        ),
        "exact_dedup": lambda: _noop(qs["doc_exact_dedup"](spark, x10)),
        "token_stats": lambda: _noop(qs["doc_token_stats"](spark, x10)),
        "curated_corpus": lambda: _noop(qs["curated_corpus"](spark, x10)),
        "chunking": lambda: _noop(qs["doc_chunks"](spark, x10)),
        "repetition": lambda: _noop(qs["doc_repetition_stats"](spark, x10)),
        # r11: the contamination gates merged into doc_contamination_dual
        # (registry headroom); the bench keeps timing each PHYSICAL path
        # separately via the operators so the numbers stay comparable.
        "contamination": lambda: _noop(
            _contamination_exact_x10(spark, x10)
        ),
        # round-3 corpus operators at x10
        "tfidf_top_terms": lambda: _noop(qs["doc_tfidf_top_terms"](spark, x10)),
        "winnow_fps": lambda: _noop(qs["doc_winnow_fingerprints"](spark, x10)),
        # dedup_clusters runs its label-propagation rounds eagerly when the
        # frame is built, so the timer wraps construction + materialization
        "dedup_clusters": lambda: _noop(
            qs["doc_dedup_clusters"](spark, x10)
        ),
        # round-4 corpus operators at x10
        "inverted_index": lambda: _noop(qs["doc_inverted_index"](spark, x10)),
        "bigram_lp": lambda: _noop(qs["doc_bigram_logprob"](spark, x10)),
        "pmi_pairs": lambda: _noop(qs["term_pmi_pairs"](spark, x10)),
        # narrow (4-char) length buckets: the default 64-char blocking is
        # tuned for the oracle fixture; at 50k docs it would put ~6k docs
        # per bucket -> ~10^8 Levenshtein pairs. Bucket width is the
        # recall/cost dial and 4 keeps bench pairs ~10^7.
        "edit_dist_dups": lambda: _noop(
            _ed_dups(spark.read.parquet(f"{x10}/documents.parquet"))
        ),
        # containment semantics through the SAME LSH candidate machinery
        # as minhash_full — the unblocked scale path for subset dedup
        "containment_lsh": lambda: _noop(
            D.minhash_containment_pairs(docs, threshold=0.5)
        ),
        # r15: the signature-only estimator tier vs minhash_full above —
        # same candidates, verify = zip_with agreement over the already-
        # co-located signatures (ZERO gram rehydration); the delta vs
        # minhash_full IS the rehydration bill the tier exists to skip
        "minhash_est": lambda: _noop(
            D.minhash_estimated_pairs(docs, threshold=0.5)
        ),
        # r15: the composed triage — only the borderline estimate band
        # (default +-4/32 agreements) pays the exact verify; eager
        # (localCheckpoints the candidate frame), so the timer covers
        # the whole pipeline including the checkpoint
        "minhash_triage": lambda: _noop(
            D.minhash_triage_pairs(docs, threshold=0.5)
        ),
        # r05: one-pass duplicate-span stats (md5-hashed spans, window
        # cardinality — the substring-dedup signal) at 50k docs
        "dup_spans": lambda: _noop(
            D.duplicate_span_stats(docs, span_tokens=10)
        ),
        # r13: the REMOVAL twin (one h-shuffled window pass + coverage
        # explode + id-keyed reassembly) at 50k docs — prices the
        # rewrite stage against the stats-only signal above
        "span_removal": lambda: _noop(
            D.duplicate_span_removal(docs, span_tokens=10)
        ),
        # r07: the published-filter tier — Gopher rule bundle (map-only,
        # shuffle-free) and DSIR importance weights (explode + two
        # bounded aggs + broadcast ratio join) at 50k docs
        "gopher_flags": lambda: _noop(qs["gopher_quality_flags"](spark, x10)),
        "dsir_weights": lambda: _noop(
            qs["dsir_importance_weights"](spark, x10)
        ),
        # r07: the Bloom-pre-gated decontamination A/B twin of
        # "contamination" above — identical output, map-side bitmap
        # pruning before the verify join (includes the bitmap build job)
        "contamination_bloom": lambda: _noop(
            _contamination_bloom_x10(spark, x10)
        ),
        # r15: the NEAR-dup tier above the exact contamination twins —
        # the full gate chain (planted bench construction + per-side
        # portable signatures + cross-side band join + exact verify)
        # at 50k docs; the corpus side never shuffles past its own
        # signature agg (bench side broadcast)
        "decontam_near_dup": lambda: _noop(
            qs["near_dup_decontamination"](spark, x10)
        ),
        # r07: two-pass Misra-Gries frequent items at 50k docs (pass 1
        # map-only bounded-memory summaries, pass 2 candidate-only exact
        # count — vs token_stats' full term shuffle above)
        "heavy_hitters": lambda: _noop(
            qs["term_heavy_hitters"](spark, x10)
        ),
        # r08: the E2E quality->dedup->rebalance->split funnel (the
        # corpus tier's composition surface, like curated_corpus but
        # through all four prep stages)
        "corpus_prep": lambda: _noop(
            qs["corpus_prep_pipeline"](spark, x10)
        ),
        # r10: crawl-prep stages at 50k docs — HTML boilerplate
        # extraction (pure-Catalyst regexp chain, map-only) and
        # Dolma-style paragraph dedup with reassembly (generate +
        # hash-keyed window + id-keyed aggregate). First local numbers
        # landed in the second same-day r10 BENCH_LOCAL refresh
        # (4b47638: 0.443 s / 0.776 s).
        "html_extract": lambda: _noop(qs["html_text_extract"](spark, x10)),
        "paragraph_dedup": lambda: _noop(
            qs["doc_paragraph_dedup"](spark, x10)
        ),
        # r11: the remaining crawl-prep stages at 50k docs — C4
        # line-level filtering (generate + id-keyed aggregate, the
        # paragraph_dedup bill without the cross-doc window) and URL
        # canonicalization + url-keyed dedup (map-side codegen chain +
        # one 8-byte-keyed window)
        "c4_filter": lambda: _noop(qs["c4_line_filter"](spark, x10)),
        "url_dedup": lambda: _noop(
            qs["url_canonical_dedup"](spark, x10)
        ),
    }

    return best_of_3_each(jobs)


def main() -> None:
    from airflow_etl_finance_market_spark import harness
    from airflow_etl_finance_market_spark.session import get_spark

    spark = get_spark(
        "finmarket-bench",
        master=f"local[{CPUS}]",
        shuffle_partitions=CPUS,
    )
    spark.sparkContext.setLogLevel("ERROR")
    qs = harness.queries()
    timings: dict[str, float] = {}

    # warm the session (JVM JIT, parquet footers) with the cheapest query
    qs["volume_leaders"](spark, SF_DIR).write.format("noop").mode("overwrite").save()

    for name in BENCH_QUERIES:
        best = float("inf")
        for _ in range(3):
            df = qs[name](spark, SF_DIR)
            t0 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            best = min(best, time.perf_counter() - t0)
        timings[name] = round(best, 3)

    # ingest paths (reference baseline: 750k-row CSV COPY in ~2 s).
    # csv_ingest is the like-for-like S1 path: schema-first CSV scan ->
    # parquet overwrite. The CSV itself is materialized outside the timer.
    with tempfile.TemporaryDirectory() as tmp:
        li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
        li.select(
            "l_orderkey", "l_partkey", "l_linenumber",
            "l_quantity", "l_extendedprice", "l_shipdate",
        ).write.option("header", "true").mode("overwrite").csv(f"{tmp}/quotes_csv")

        best = float("inf")
        for _ in range(3):
            t0 = time.perf_counter()
            csv_df = (
                spark.read.schema(
                    "l_orderkey long, l_partkey long, l_linenumber int, "
                    "l_quantity double, l_extendedprice double, l_shipdate date"
                )
                .option("header", "true")
                .csv(f"{tmp}/quotes_csv")
            )
            csv_df.write.mode("overwrite").parquet(f"{tmp}/staging_from_csv")
            best = min(best, time.perf_counter() - t0)
        timings["csv_ingest"] = round(best, 3)

        best = float("inf")
        for _ in range(3):
            t0 = time.perf_counter()
            li.write.mode("overwrite").parquet(f"{tmp}/staging")
            best = min(best, time.perf_counter() - t0)
        timings["ingest_overwrite"] = round(best, 3)

    total = round(sum(timings.values()), 3)
    payload = {
        "metric": "headline_queries_total_wall_sec",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf_from_dir(SF_DIR),
    }

    if os.environ.get("SPARK_GRAFT_X10", "1") != "0":
        with tempfile.TemporaryDirectory() as tmp:
            payload["corpus_x10"] = corpus_x10_section(spark, qs, tmp)
            payload["corpus_x10_rows"] = {"documents": 50000}
        with tempfile.TemporaryDirectory() as tmp:
            mx, n_li = markets_x10_section(spark, qs, tmp)
            payload["markets_x10"] = mx
            payload["markets_x10_rows"] = {"lineitem": n_li}
        with tempfile.TemporaryDirectory() as tmp:
            ex, n_ev = events_x10_section(spark, qs, tmp)
            payload["events_x10"] = ex
            payload["events_x10_rows"] = {"events": n_ev}

    if os.environ.get("SPARK_GRAFT_X100", "1") != "0":
        with tempfile.TemporaryDirectory() as tmp:
            cx, n_docs = corpus_x100_section(spark, qs, tmp)
            payload["corpus_x100"] = cx
            payload["corpus_x100_rows"] = {"documents": n_docs}
        with tempfile.TemporaryDirectory() as tmp:
            crx, n_crawl = crawl_x100_section(spark, qs, tmp)
            payload["crawl_x100"] = crx
            payload["crawl_x100_rows"] = {"documents": n_crawl}
        with tempfile.TemporaryDirectory() as tmp:
            evx, n_ev100 = events_x100_section(spark, qs, tmp)
            payload["events_x100"] = evx
            payload["events_x100_rows"] = {"events": n_ev100}
        with tempfile.TemporaryDirectory() as tmp:
            mkx, n_li100 = markets_x100_section(spark, qs, tmp)
            payload["markets_x100"] = mkx
            payload["markets_x100_rows"] = {"lineitem": n_li100}

    # r10 (verdict #6): the host-regime anchor as STRUCTURED DATA — the
    # same-day flagship triplet every cross-round comparison normalizes
    # by (tools/regime_delta.py reads it mechanically instead of via
    # docstring archaeology). flagship_sf01 is the headline
    # weekly_volatility point; the x100 pair exists only when the x100
    # tiers ran.
    payload["regime_anchor"] = {
        "flagship_sf01": payload["queries"].get("weekly_volatility"),
        "flagship_x100_intier": payload.get("markets_x100", {}).get(
            "weekly_volatility"
        ),
        "flagship_x100_posthygiene": payload.get("markets_x100", {}).get(
            "weekly_volatility_posthygiene"
        ),
    }

    # ARTIFACT CONTRACT (r06 verdict #1): the r06 payload outgrew the
    # driver's tail capture and the HEADLINE total was truncated into
    # "parsed": null. Two-part fix: (a) the FULL payload is written to a
    # committed file the repo owns (never capture-window-dependent);
    # (b) the one printed JSON line is the COMPACT headline summary —
    # small enough that any tail capture keeps it intact — with a pointer
    # at the full artifact.
    full_path = os.environ.get(
        "SPARK_GRAFT_BENCH_OUT", f"{REPO}/BENCH_LOCAL.json"
    )
    with open(full_path, "w") as f:
        json.dump(payload, f, indent=1)
        f.write("\n")
    compact = {
        "metric": payload["metric"],
        "value": payload["value"],
        "unit": payload["unit"],
        "queries": payload["queries"],
        "sf": payload["sf"],
        "full_artifact": os.path.basename(full_path),
    }
    print(json.dumps(compact))


if __name__ == "__main__":
    main()
