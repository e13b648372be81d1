"""Bloom-filter semi-join reduction (the runtime-filter pattern, by hand).

At 100 TB the dominant cost of a corpus ⋈ small-set membership check is
not the join itself but MOVING the corpus side's join keys. Spark's own
runtime row-level filtering (`spark.sql.optimizer.runtime.bloomFilter.*`)
applies the same idea inside AQE for shuffle joins; this operator builds
the filter explicitly for the broadcast-membership shape the
decontamination gate uses, where the win is shrinking the broadcast
itself: a benchmark of millions of n-grams broadcasts as an m-bit bitmap
(auto-sized to hold the fill ratio ~5%) instead of a string set 10-100x
larger, and the corpus side prunes MAP-SIDE with pure Catalyst
arithmetic (xxhash64 + bit test — no Python, no shuffle, no join) before
the exact verify join sees the survivors.

Bloom guarantees: no false negatives (every true member survives the
pre-gate), bounded false positives (survivors that fail the exact join).
Composition with the exact join therefore returns EXACTLY the unfiltered
result — pinned by reusing the exact operator's oracle verbatim. The
guarantee only holds when probe and build use the SAME (m, k), so the
filter is a self-describing value: `bloom_build` returns a `BloomFilter`
carrying its bits AND parameters, and `bloom_contains` reads them from
it — a k-mismatch is unrepresentable, not merely unlikely.

Build side: the filter's set bit POSITIONS are computed in Spark
(explode k hash positions per value, distinct) and collected — bounded
by k x |set|, a parameter-bounded collect; the bitmap ships back as
one BinaryType literal.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: Auto-sizing bounds: floor keeps tiny sets from degenerate bitmaps,
#: cap bounds the broadcast literal at 16 MiB (2^27 bits).
_M_FLOOR = 1 << 13
_M_CAP = 1 << 27


@dataclass(frozen=True)
class BloomFilter:
    """Self-describing Bloom bitmap: the probe reads (m_bits, k) from
    here, so build/probe parameter drift cannot silently break the
    no-false-negative guarantee."""

    bits: bytes
    m_bits: int
    k: int

    @property
    def fill_ratio(self) -> float:
        set_bits = sum(bin(b).count("1") for b in self.bits)
        return set_bits / self.m_bits


def bloom_build(
    values: DataFrame, col: str, *, m_bits: int | None = None, k: int = 3
) -> BloomFilter:
    """Build a Bloom filter over the distinct values of ``col``.

    Hash family: ``pmod(xxhash64(value, i), m)`` for i in 0..k-1 — the
    JVM-side hash the probe expression recomputes, so build and probe
    agree by construction. The collect is k x |distinct values| LONG
    positions (then de-duplicated), never the values themselves.

    ``m_bits=None`` (default) auto-sizes from the distinct-value count:
    m = next power of two >= 20*n*k, clamped to [2^13, 2^27] — fill
    stays ~5% and the false-positive rate ~(fill)^k regardless of set
    size, instead of a fixed-m filter silently saturating to fill ~1.0
    (pass-everything, prune-nothing) on a large benchmark.
    """
    if m_bits is None:
        n = values.select(col).distinct().count()
        m_bits = _M_FLOOR
        while m_bits < min(20 * max(n, 1) * k, _M_CAP):
            m_bits <<= 1
    if m_bits % 8 != 0:
        raise ValueError("m_bits must be a multiple of 8")
    pos_rows = (
        values.select(
            F.explode(
                F.array(
                    *[
                        F.pmod(F.xxhash64(F.col(col), F.lit(i)), F.lit(m_bits))
                        for i in range(k)
                    ]
                )
            ).alias("pos")
        )
        .distinct()
        .collect()
    )
    bits = bytearray(m_bits // 8)
    for (pos,) in pos_rows:
        bits[pos // 8] |= 1 << (pos % 8)
    return BloomFilter(bits=bytes(bits), m_bits=m_bits, k=k)


def bloom_contains(bf: BloomFilter, col: Column | str) -> Column:
    """Pure-Catalyst membership probe against a Bloom filter literal.

    For each of the filter's k hash positions: index the byte out of the
    binary literal (`substr`), read its code point via a latin-1 decode
    (`ascii` — the JVM byte->int bridge), and test the bit with a
    power-of-two mask. Everything stays inside whole-stage codegen; the
    bitmap is ONE constant shipped with the plan.
    """
    c = F.col(col) if isinstance(col, str) else col
    lit_map = F.lit(bf.bits)
    cond = F.lit(True)
    for i in range(bf.k):
        pos = F.pmod(F.xxhash64(c, F.lit(i)), F.lit(bf.m_bits))
        byte = F.ascii(
            F.decode(
                lit_map.substr((pos / 8).cast("int") + 1, F.lit(1)),
                "ISO-8859-1",
            )
        )
        # shiftright() takes a literal shift only — mask with a computed
        # power-of-two instead (exact: byte < 256, mask <= 128).
        mask = F.pow(F.lit(2.0), F.pmod(pos, F.lit(8)).cast("double")).cast(
            "int"
        )
        cond = cond & (byte.bitwiseAND(mask) > 0)
    return cond


def bloom_pregated_contamination(
    docs: DataFrame,
    benchmark: DataFrame,
    *,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    m_bits: int | None = None,
    k: int = 3,
) -> DataFrame:
    """`contamination_flags` with a Bloom pre-gate on the corpus side.

    Identical output to the exact operator (the Bloom pass only PRUNES —
    no false negatives — and the exact verify join removes the false
    positives), so the exact oracle pins this path verbatim. The scale
    difference: the corpus side's gram stream is filtered map-side by
    bitmap arithmetic before any join, and at real benchmark sizes the
    broadcast shrinks from the gram string set to m/8 bytes.
    """
    from ..functions.text import word_ngrams
    from ..util import fan_out

    # The benchmark gram frame feeds two consumers (the position collect
    # inside bloom_build and the exact verify join). Deliberately NOT
    # localCheckpointed despite the house derived-frame-reuse rule: a
    # lazily-checkpointed subtree here made DOWNSTREAM SET OPERATIONS
    # over this frame's output return wrong answers (exceptAll against
    # the uncheckpointed twin reported all rows distinct while collect()
    # showed identical rows — observed live on Spark 4.1, a plan-reuse /
    # checkpoint canonicalization hazard). The benchmark side is small
    # by contract, so the one extra explode is the cheaper price.
    bench_grams = (
        fan_out(benchmark, id_col)
        .select(
            F.explode(F.array_distinct(word_ngrams(text_col, n))).alias("gram")
        )
        .distinct()
    )
    bf = bloom_build(bench_grams, "gram", m_bits=m_bits, k=k)
    doc_grams = fan_out(docs, id_col).select(
        F.col(id_col),
        F.explode(F.array_distinct(word_ngrams(text_col, n))).alias("gram"),
    )
    survivors = doc_grams.filter(bloom_contains(bf, "gram"))
    overlap = (
        survivors.join(F.broadcast(bench_grams), "gram")
        .groupBy(id_col)
        .agg(F.count("*").alias("_n_overlap"))
    )
    return (
        docs.select(id_col)
        .join(overlap, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce("_n_overlap", F.lit(0)).alias("n_overlap_grams"),
            (F.coalesce("_n_overlap", F.lit(0)) > 0).alias("contaminated"),
        )
    )
