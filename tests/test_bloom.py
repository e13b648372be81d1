"""Bloom semi-join reduction: bit-arithmetic parity, no-false-negatives,
real pruning, and output equality with the exact contamination operator."""

from __future__ import annotations

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from airflow_etl_finance_market_spark.operators.bloom import (
    bloom_build,
    bloom_contains,
    bloom_pregated_contamination,
)
from airflow_etl_finance_market_spark.operators.corpus import contamination_flags


def test_bloom_probe_matches_python_reference(spark):
    """Differential: the Catalyst probe expression agrees with a Python
    re-check of the same bitmap for arbitrary strings (members and not),
    pinning the substring/ascii/shift bit bridge byte-for-byte."""
    members = spark.createDataFrame([Row(v=f"member {i}") for i in range(40)])
    m_bits, k = 256, 3
    bf = bloom_build(members, "v", m_bits=m_bits, k=k)
    assert (bf.m_bits, bf.k) == (m_bits, k)

    probes = spark.createDataFrame(
        [Row(v=f"member {i}") for i in range(40)]
        + [Row(v=f"other {i}") for i in range(200)]
    )
    got = probes.select(
        "v",
        bloom_contains(bf, "v").alias("hit"),
        *[
            F.pmod(F.xxhash64("v", F.lit(i)), F.lit(m_bits)).alias(f"p{i}")
            for i in range(k)
        ],
    ).collect()
    for r in got:
        expect = all(
            (bf.bits[getattr(r, f"p{i}") // 8] >> (getattr(r, f"p{i}") % 8))
            & 1
            for i in range(k)
        )
        assert r.hit == expect, r


def test_bloom_no_false_negatives(spark):
    members = spark.createDataFrame([Row(v=f"gram-{i}") for i in range(500)])
    bf = bloom_build(members, "v")
    hits = members.filter(bloom_contains(bf, "v")).count()
    assert hits == 500


def test_bloom_auto_sizing_keeps_fill_bounded(spark):
    """m_bits=None sizes the bitmap from the distinct-value count, so a
    bigger set gets a bigger (power-of-two) bitmap and fill stays low
    instead of saturating to pass-everything."""
    small = bloom_build(
        spark.createDataFrame([Row(v=f"s{i}") for i in range(100)]), "v"
    )
    big = bloom_build(
        spark.createDataFrame([Row(v=f"b{i}") for i in range(5000)]), "v"
    )
    assert big.m_bits > small.m_bits
    assert big.m_bits % 8 == 0 and (big.m_bits & (big.m_bits - 1)) == 0
    assert big.fill_ratio < 0.25
    assert small.fill_ratio < 0.25


def test_bloom_build_rejects_unaligned_m():
    with pytest.raises(ValueError, match="multiple of 8"):
        bloom_build(None, "v", m_bits=12)


def test_bloom_pregate_prunes_and_preserves_result(spark, sf_dir):
    """On the fixture corpus: (a) the pre-gated operator's output equals
    the exact operator's row-for-row; (b) the bitmap actually PRUNES the
    corpus gram stream (the point of the pattern)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    corpus = docs.filter(F.col("doc_id") % 50 != 0)
    bench = docs.filter(F.col("doc_id") % 50 == 0)

    exact = contamination_flags(corpus, bench, n=3)
    gated = bloom_pregated_contamination(corpus, bench, n=3)
    assert gated.exceptAll(exact).count() == 0
    assert exact.exceptAll(gated).count() == 0

    # Pruning evidence: rebuild the internals the operator composes.
    from airflow_etl_finance_market_spark.functions.text import word_ngrams
    from airflow_etl_finance_market_spark.operators.bloom import bloom_build

    bench_grams = bench.select(
        F.explode(F.array_distinct(word_ngrams("text", 3))).alias("gram")
    ).distinct()
    bitmap = bloom_build(bench_grams, "gram")
    doc_grams = corpus.select(
        F.explode(F.array_distinct(word_ngrams("text", 3))).alias("gram")
    )
    total = doc_grams.count()
    survivors = doc_grams.filter(bloom_contains(bitmap, "gram")).count()
    true_members = doc_grams.join(bench_grams, "gram", "left_semi").count()
    assert true_members <= survivors < total


def test_bloom_probe_is_map_side_codegen(spark):
    """Plan pin: the Bloom pre-gate is a pure map-side Filter — no
    exchange, no Python eval — so it rides the scan's whole-stage
    codegen span (the point of building it from Catalyst primitives)."""
    from pyspark.sql import Row

    members = spark.createDataFrame([Row(v="a"), Row(v="b")])
    bitmap = bloom_build(members, "v", m_bits=64, k=2)
    probe = spark.createDataFrame([Row(v=str(i)) for i in range(10)]).filter(
        bloom_contains(bitmap, "v")
    )
    plan = probe._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "Python" not in plan
    assert "xxhash64" in plan.lower()
