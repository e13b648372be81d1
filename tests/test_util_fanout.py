"""fan_out's conditional-skip guard (optimization r15, hardened r16).

The skip may only fire on SCAN-LIKE frames (allowlisted analyzed-plan
nodes) because the partition probe (`df.rdd`) eagerly materializes AQE
query stages on derived frames — the double-execution hazard ADVICE r15
flagged. These tests pin the r16 ALLOWLIST semantics:

- plain / projected / filtered parquet scans with enough splits SKIP;
- any derived frame (joins, set ops, distinct — including node names the
  old blocklist had never heard of, e.g. Except) keeps the repartition;
- an explicit ``partitions=n`` is honored unconditionally (the skip
  applies only to the default defaultParallelism fan-out), and
  ``partitions < 1`` is rejected rather than replaced by the default.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from airflow_etl_finance_market_spark.util import _is_scan_like, fan_out


def analyzed(df) -> str:
    return df._jdf.queryExecution().analyzed().toString()


@pytest.fixture(scope="module")
def wide_parquet(spark, tmp_path_factory):
    """A parquet table whose scan yields >= defaultParallelism splits
    (many tiny files: each is charged openCostInBytes, so they never
    pack into one split)."""
    n = spark.sparkContext.defaultParallelism
    path = str(tmp_path_factory.mktemp("fanout") / "wide.parquet")
    (
        spark.range(10_000)
        .select(F.col("id").alias("doc_id"), F.col("id").cast("string").alias("text"))
        .repartition(n)
        .write.mode("overwrite")
        .parquet(path)
    )
    df = spark.read.parquet(path)
    assert df.rdd.getNumPartitions() >= n, "fixture must out-split the target"
    return df


def test_scan_like_allowlist_accepts_scan_project_filter(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    assert _is_scan_like(analyzed(docs))
    assert _is_scan_like(analyzed(docs.select("doc_id", "text")))
    assert _is_scan_like(analyzed(docs.filter(F.col("n_chars") > 3).select("doc_id")))
    assert _is_scan_like(analyzed(docs.alias("d")))


def test_scan_like_allowlist_rejects_derived_frames(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    a = docs.select("doc_id")
    # the ADVICE example: Except was invisible to the old blocklist
    assert not _is_scan_like(analyzed(a.exceptAll(a.filter(F.col("doc_id") % 2 == 0))))
    assert not _is_scan_like(analyzed(a.intersect(a)))
    assert not _is_scan_like(analyzed(a.join(a.withColumnRenamed("doc_id", "d2"),
                                             F.col("doc_id") == F.col("d2"))))
    assert not _is_scan_like(analyzed(a.distinct()))
    assert not _is_scan_like(analyzed(a.limit(5)))
    assert not _is_scan_like(analyzed(a.offset(1)))
    assert not _is_scan_like(analyzed(docs.groupBy("lang").count()))
    assert not _is_scan_like(analyzed(a.union(a)))
    assert not _is_scan_like("")  # degenerate: no nodes -> not scan-like


def test_fan_out_skips_well_split_scan(wide_parquet):
    out = fan_out(wide_parquet, "doc_id")
    assert out is wide_parquet  # no repartition inserted


def test_fan_out_repartitions_derived_frame_even_when_well_split(wide_parquet):
    derived = wide_parquet.exceptAll(wide_parquet.filter(F.col("doc_id") < 0))
    out = fan_out(derived, "doc_id")
    assert "RepartitionByExpression" in analyzed(out)


def test_fan_out_honors_explicit_partition_count(wide_parquet):
    n = wide_parquet.rdd.getNumPartitions()
    out = fan_out(wide_parquet, "doc_id", partitions=n)  # satisfied, but explicit
    plan = analyzed(out)
    assert "RepartitionByExpression" in plan and f", {n}" in plan


@pytest.mark.parametrize("bad", [0, -1])
def test_fan_out_rejects_non_positive_partition_count(wide_parquet, bad):
    with pytest.raises(ValueError, match="partitions must be >= 1"):
        fan_out(wide_parquet, "doc_id", partitions=bad)


def test_fan_out_force_always_repartitions(wide_parquet):
    out = fan_out(wide_parquet, "doc_id", force=True)
    assert "RepartitionByExpression" in analyzed(out)
