"""Small engine-wide utilities."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: Logical node names under which the fan_out skip may probe partition
#: counts: a frame is SCAN-LIKE only when every analyzed-plan node is one
#: of these (relation + projections/filters/aliases). This is an ALLOWLIST
#: (optimization r16, per ADVICE): the r15 blocklist classified any node
#: it had never heard of (Except/Intersect, Offset, CoGroup, future ops)
#: as scan-like, and the df.rdd partition probe on such a frame eagerly
#: materializes AQE query stages — the double-execution hazard the skip
#: exists to avoid. Unknown nodes now keep the unconditional repartition
#: (fail-safe); the skip still fires exactly where it was measured to win
#: (plain parquet scans, optionally projected/filtered).
#: ``Range`` and DataSource V2 relations are left out on purpose: nothing
#: measured the skip on them, and a V2 scan's ``df.rdd`` probe asks the
#: source to plan its input partitions, which is not the pure plan
#: inspection the skip relies on.
#: Because the list is fail-safe, leaving a node out costs at most one
#: repartition.
_SCAN_LIKE_NODES = frozenset(
    {"Project", "Filter", "Relation", "LogicalRDD", "LocalRelation",
     "SubqueryAlias", "View"}
)


def _is_scan_like(plan: str) -> bool:
    """True iff every node line of an analyzed-plan string is allowlisted."""
    saw_node = False
    for line in plan.splitlines():
        s = line.lstrip(" :+-")
        if not s:
            continue
        node = s.split(" ", 1)[0].split("[", 1)[0].split("(", 1)[0]
        if node not in _SCAN_LIKE_NODES:
            return False
        saw_node = True
    return saw_node


def fan_out(
    df: DataFrame,
    *keys: Column | str,
    partitions: int | None = None,
    force: bool = False,
) -> DataFrame:
    """Spread CPU-bound per-row work across every core.

    Text/hash kernels (shingling, minhash, simhash, tokenization) are
    compute-bound, and a small single-file input otherwise pins
    the whole stage to ONE task — a 5k-doc corpus in one parquet file ran
    the entire dedup family on 1 of 32 cores. The shuffle this inserts
    moves only the small input once and unlocks N× the CPU.

    Optimization r15 (guide §2.4 — remove shuffles outright): the
    repartition is now CONDITIONAL on the input actually being
    under-split. When the source already scans in >= the target number
    of partitions (any real multi-file table; at 100 TB the input
    arrives in thousands of splits), the exchange moved the ENTIRE raw
    payload (e.g. the full corpus text) one extra time for nothing —
    and, worse, it moved raw rows where the downstream aggregate would
    otherwise map-side combine BEFORE its own shuffle, so skipping it
    both removes an exchange and shrinks the next one to partial-agg
    rows. Measured at the 500k-doc tier: the full MinHash near-dup
    pipeline 25.4 s → 19.5 s; every fan_out consumer in the corpus
    family sheds one raw-payload exchange.
    Partition count probing uses the physical scan plan only
    (``df.rdd.getNumPartitions()`` — plans, never runs, the frame);
    single-file / single-row-group gate fixtures keep the fan-out.
    Scan-likeness is an ALLOWLIST of logical node names
    (``_SCAN_LIKE_NODES``), so unrecognized operators fail-safe into the
    unconditional repartition. An explicit ``partitions=n`` (``n >= 1``;
    anything smaller raises ``ValueError``) is always honored: the skip
    applies only to the default defaultParallelism fan-out.

    ``force=True`` keeps the UNCONDITIONAL repartition: when the
    fanned-out frame feeds a MULTI-CONSUMER expansion whose consumers
    aggregate on DIFFERENT keys (tfidf_top_terms' per-doc counts feed
    the doc-length window, the document-frequency aggregate and the
    scoring join), this exchange is the one shared stage runtime
    exchange-reuse can dedupe — skipping it makes every consumer
    re-run the scan+tokenize+explode subtree independently. It also
    pays when the expansion is wider than the text it came from
    (measured: repetition_stats 4.0 s → 3.0 s WITH the forced
    exchange at 50k docs).
    Single-consumer pipelines, and multi-consumer ones whose sharing
    point is a downstream aggregate's own exchange (the MinHash
    signature frame), should leave it off.

    Pass the downstream grouping key(s) so the exchange, when taken,
    doubles as the aggregation's shuffle (hash-partitioning by key is
    reused by a later groupBy on the same key; keyless round-robin
    would shuffle twice).
    """
    if partitions is not None and partitions < 1:
        raise ValueError(f"fan_out partitions must be >= 1, got {partitions}")
    n = (
        partitions
        if partitions is not None
        else df.sparkSession.sparkContext.defaultParallelism
    )
    if partitions is None and not force and not df.isStreaming:
        # The skip applies only to SCAN-LIKE frames (relation +
        # projections/filters): there the partition probe is a pure plan
        # inspection. On a derived frame (join/aggregate/...) `df.rdd`
        # would MATERIALIZE the AQE query stages eagerly — running the
        # upstream shuffles at construction time and then again in the
        # real query — so anything non-scan-like keeps the fan-out.
        plan = df._jdf.queryExecution().analyzed().toString()
        if _is_scan_like(plan) and df.rdd.getNumPartitions() >= n:
            return df
    cols = [F.col(k) if isinstance(k, str) else k for k in keys]
    return df.repartition(n, *cols) if cols else df.repartition(n)
