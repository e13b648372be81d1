"""Two-pass heavy hitters (frequent items) over a token stream.

The exact global term top-k needs a full (term)-keyed shuffle of every
occurrence — at 100 TB that shuffle IS the job. The classic fix is the
two-pass sketch-then-verify shape:

  pass 1  per-partition Misra-Gries summaries in bounded memory — a
          map-only Arrow stage emitting at most ``capacity`` candidate
          terms per partition, NO shuffle of the stream;
  pass 2  exact counts for the candidate set only — the occurrence
          stream is pruned by a broadcast semi-join before the one
          (small) aggregate (semi-join reduction).

Correctness rests on the averaging argument: an item with global count
> N/capacity must exceed n_p/capacity in at least one partition p
(otherwise summing the per-partition bounds contradicts the global
count), so the UNION of per-partition MG candidate sets contains every
global heavy hitter. The exact second pass then makes the final top-k
EXACT — provided the k-th item clears the N/capacity floor, which the
caller controls by sizing ``capacity`` (the guarantee is pinned by an
adversarial test; the driver gate sizes capacity far above the fixture's
vocabulary so the bound holds trivially).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text import tokens
from ..util import fan_out


def _mg_candidates_stage(capacity: int):
    """Factory-nested Misra-Gries kernel (ships by value to bare
    workers — the house pickle rule): one bounded summary per Arrow
    batch stream, emitting at most ``capacity`` candidate terms when
    the partition ends.

    Implemented as a SUMMARY MERGE (Agarwal et al. 2012, "Mergeable
    Summaries"): ``Counter.update(batch)`` counts every batch at C
    speed DIRECTLY into the running summary, and whenever the summary
    exceeds ``4 x capacity`` (plus once at the end) it is trimmed by
    subtracting the (capacity+1)-th largest count from every entry and
    dropping the non-positive ones. Each trim of ``s`` removes ``s``
    weight from >= capacity+1 distinct entries at once, so the total
    decrement any term ever suffers is <= n_p/(capacity+1) — the same
    averaging-argument bound as the per-token decrement step,
    regardless of the trim schedule. Memory stays bounded by
    ``4 x capacity`` plus one Arrow batch's distinct terms (both
    config-bounded, independent of partition size).

    The r07 review asked for a per-batch ``value_counts()`` +
    pandas-merge rewrite; MEASURED at 2M tokens/partition that is a
    LOSS (1.3M tok/s vs the dict kernel's 3.5-3.9M — object-dtype
    index alignment per batch costs more than the amortized-O(1) dict,
    whose decrement sweep fires at most once per ``capacity``
    insertions). ``Counter``'s C-level ``_count_elements`` is the real
    fast path: 9-10M tok/s on both zipf and adversarial all-distinct
    streams, ~3x the original kernel (measurements in the r08 bench
    notes)."""

    def stage(batches):
        from collections import Counter

        import pandas as pd

        summary: Counter = Counter()
        trim_at = 4 * capacity

        def trim(c: Counter) -> Counter:
            vals = sorted(c.values(), reverse=True)
            sub = vals[capacity]
            return Counter({t: n - sub for t, n in c.items() if n > sub})

        for pdf in batches:
            summary.update(pdf["term"].tolist())
            if len(summary) > trim_at:
                summary = trim(summary)
        if len(summary) > capacity:
            summary = trim(summary)
        yield pd.DataFrame(
            {"term": pd.Series(list(summary), dtype="object")}
        )

    return stage


def heavy_hitters(
    docs: DataFrame,
    *,
    k: int = 20,
    capacity: int = 4096,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_len: int = 1,
) -> DataFrame:
    """(term, n) — the exact top-``k`` corpus terms by occurrence count,
    computed with the two-pass sketch-then-verify plan. Ties break on
    term ascending (deterministic cross-engine)."""
    # occ feeds both passes and is deliberately NOT localCheckpointed
    # (the dsir_importance double-scan posture): the token stream is
    # corpus-scale, so materializing it for reuse writes more than the
    # second tokenize+explode costs — and pass 2 prunes it map-side
    # with the broadcast semi-join before anything shuffles anyway.
    occ = (
        fan_out(docs, id_col)
        .select(F.explode(tokens(text_col)).alias("term"))
        .filter(F.length("term") >= min_len)
    )
    candidates = (
        occ.mapInPandas(_mg_candidates_stage(capacity), "term string")
        .distinct()
    )
    exact = (
        occ.join(F.broadcast(candidates), "term", "left_semi")
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    # (n desc, term asc) is a total order, so orderBy+limit is
    # deterministic and plans as TakeOrderedAndProject — no global sort.
    return exact.orderBy(F.desc("n"), F.asc("term")).limit(k)
