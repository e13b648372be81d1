"""Data-quality gates (SURVEY.md §2.2 P4-P5, §2.11 C4).

The reference gates the pipeline with a SQLCheckOperator: one aggregate row
whose first cell must be truthy, else the chain halts
(reference: dags/financial_pipeline.py:126-136):

    SELECT COUNT(*) = 750000 AND SUM(CASE WHEN close IS NULL OR
           date IS NULL THEN 1 ELSE 0 END) = 0 FROM staging

Here the same gate is a one-row DataFrame (distributed aggregate — a full
scan with map-side partial aggregation, no shuffle of data rows, only of the
per-partition counters) plus a driver-side raise. On 100 TB this is the
cheapest possible full-table pass: count + conditional count fused into one
aggregation over a column-pruned scan. Cheaper still is no pass of its own:
the pipeline observes the same aggregates (``gate_columns``) in the job
that writes staging.
"""

from __future__ import annotations

from collections.abc import Mapping
from typing import Any

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


class QualityGateError(ValueError):
    """Raised when a quality gate fails — halts the pipeline (C4 semantics)."""


def gate_columns(
    null_check_cols: list[str],
    *,
    expected_count: int | None = None,
) -> list[Column]:
    """The gate as aggregate columns: total_rows, null_rows, passed.

    ``passed`` is the reference's boolean conjunction: exact row count (when
    ``expected_count`` given, else just non-empty) AND zero NULLs in the
    critical columns. The columns suit ``DataFrame.agg`` and also
    ``DataFrame.observe``, so a write that already reads every row can
    compute the gate in its own job.
    """
    null_cond: Column = F.lit(False)
    for c in null_check_cols:
        null_cond = null_cond | F.col(c).isNull()
    total_rows = F.count(F.lit(1))
    null_rows = F.sum(F.when(null_cond, 1).otherwise(0)).cast("long")
    count_ok = (
        (total_rows == F.lit(expected_count))
        if expected_count is not None
        else (total_rows > F.lit(0))
    )
    return [
        total_rows.alias("total_rows"),
        null_rows.alias("null_rows"),
        (count_ok & (null_rows == F.lit(0))).alias("passed"),
    ]


def quality_summary(
    df: DataFrame,
    null_check_cols: list[str],
    *,
    expected_count: int | None = None,
) -> DataFrame:
    """One-row gate summary of ``df``: the columns of ``gate_columns``."""
    return df.agg(*gate_columns(null_check_cols, expected_count=expected_count))


def fk_orphans(
    fact: DataFrame,
    dim: DataFrame,
    *,
    keys: dict[str, str],
    constraint: str,
) -> DataFrame:
    """One-row FK audit: count of `fact` rows whose non-NULL key tuple has
    no match in `dim` (SURVEY.md §1.2 — the reference declares these as PG
    FOREIGN KEY constraints, reference: dags/financial_pipeline.py:172-173;
    here they become an explicit post-load anti-join check).

    ``keys`` maps fact column → dim column. SQL FK semantics: a NULL in any
    key column never violates, so those rows are filtered out first.

    Scale shape: the dim side is projected to its key columns and
    de-duplicated before the join, so the anti-join's build side is
    |dim keys|, broadcast when small; otherwise a hash-partitioned anti-join
    on the key — one exchange per side, map-side pruned to the key columns.
    """
    fact_cols = list(keys)
    not_null = F.lit(True)
    for fc in fact_cols:
        not_null = not_null & F.col(fc).isNotNull()
    dim_keys = dim.select(
        *[F.col(dc).alias(fc) for fc, dc in keys.items()]
    ).dropDuplicates()
    orphans = fact.filter(not_null).join(dim_keys, on=fact_cols, how="left_anti")
    return orphans.agg(F.count(F.lit(1)).alias("orphan_rows")).select(
        F.lit(constraint).alias("constraint_name"),
        "orphan_rows",
        (F.col("orphan_rows") == F.lit(0)).alias("passed"),
    )


def expect_passed(row: Mapping[str, Any], gate_name: str = "quality") -> Mapping[str, Any]:
    """Driver-side fail-fast: raise if the gate row is falsy (C4).

    ``row`` holds the columns of ``gate_columns``: the ``get`` of an
    ``Observation`` of them, or the one row of ``quality_summary``. It is
    returned, so a caller that also wants its counts reads them from it.
    """
    if not row["passed"]:
        raise QualityGateError(
            f"{gate_name} gate failed: total_rows={row['total_rows']} "
            f"null_rows={row['null_rows']}"
        )
    return row


def iqr_outliers(
    df: DataFrame,
    *,
    value: str = "value",
    group: str = "event_type",
) -> DataFrame:
    """Per-group robust-statistics outlier audit (Tukey fences):
    (group, q1, q3, n_rows, n_outliers, outlier_frac) where an outlier
    falls outside [q1 - 1.5*IQR, q3 + 1.5*IQR] with EXACT linear-interpolated
    quartiles (Spark ``percentile`` ≡ DuckDB ``quantile_cont`` ≡ numpy
    'linear') — the standard distribution-free data-cleaning gate applied
    before a value column feeds a model or a metric.

    Scale shape: two group-keyed aggregates. The quartile pass shuffles the
    per-group values once (exact percentile needs the group's values
    together — the sketch-based alternative is approx_event_stats); the
    per-group fence frame is |groups| rows and BROADCASTS back onto the
    scan, so the counting pass is map-side + one tiny aggregate. Groups
    whose value set fits no executor should use approx percentiles instead
    — this operator is for bounded-cardinality value columns (metrics,
    prices) where exactness is the contract.
    """
    fences = df.groupBy(group).agg(
        F.expr(f"percentile({value}, 0.25)").alias("_q1"),
        F.expr(f"percentile({value}, 0.75)").alias("_q3"),
    )
    lo = F.col("_q1") - 1.5 * (F.col("_q3") - F.col("_q1"))
    hi = F.col("_q3") + 1.5 * (F.col("_q3") - F.col("_q1"))
    out = (F.col(value) < lo) | (F.col(value) > hi)
    return (
        df.join(F.broadcast(fences), group)
        .groupBy(group)
        .agg(
            F.round(F.max("_q1"), 6).alias("q1"),
            F.round(F.max("_q3"), 6).alias("q3"),
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.when(out, 1).otherwise(0)).cast("long").alias("n_outliers"),
            F.round(
                F.sum(F.when(out, 1).otherwise(0)) / F.count(F.lit(1)), 6
            ).alias("outlier_frac"),
        )
    )


def equi_depth_histogram(
    df: DataFrame,
    *,
    value: str = "n_chars",
    buckets: int = 10,
) -> DataFrame:
    """(bucket, n_rows, lo, hi) — equi-depth (decile-style) histogram: the
    profiling/calibration view behind "what does the p40-p50 band of this
    score look like". Bucket b holds rows strictly above boundary b-1 and
    at-or-below boundary b, with boundaries at the exact interpolated
    ``i/buckets`` quantiles.

    Scale shape: this is the DISTRIBUTED idiom for depth bucketing — one
    aggregate computes the boundary vector (exact percentile; swap in
    approx_percentile past memory-bound group sizes), which BROADCASTS
    back onto the scan for a map-side bucket assignment + one final tiny
    aggregate. A row_number/ntile window would need a global total order
    (single partition) — the one shape that cannot scale. Rows equal to a
    boundary go to the LOWER bucket on both engines; boundary doubles are
    bit-comparable because Spark `percentile` and DuckDB `quantile_cont`
    run the same type-7 linear interpolation.
    """
    qs = [i / buckets for i in range(1, buckets)]
    bounds = df.agg(
        *[
            F.expr(f"percentile({value}, {q})").alias(f"_b{i}")
            for i, q in enumerate(qs, start=1)
        ]
    )
    bucket = F.lit(1)
    for i in range(1, buckets):
        bucket = bucket + F.when(F.col(value) > F.col(f"_b{i}"), 1).otherwise(0)
    return (
        df.crossJoin(F.broadcast(bounds))
        .select(bucket.cast("long").alias("bucket"), F.col(value))
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min(value).alias("lo"),
            F.max(value).alias("hi"),
        )
    )
