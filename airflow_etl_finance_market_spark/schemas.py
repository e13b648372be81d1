"""Explicit schemas (DDL-first, no inference — SURVEY.md §1.2).

The reference declares every table schema as Postgres DDL
(reference: dags/financial_pipeline.py:104-112,143-147,153-158,170-180).
We mirror that discipline with StructTypes: the CSV/Parquet readers never use
``inferSchema`` (it double-scans the input and can mistype), and every write
produces a stable, documented schema. ``plans.pipeline`` re-reads the tables
it wrote (staging, the weekly MV, the fact) with these same schemas, so no
read back runs Spark's Parquet footer-inference job before its scan.

Type mapping rationale (SURVEY.md §1.2): NUMERIC→Double (all reference math is
tolerance-friendly and the driver fixtures use DOUBLE), BIGINT→Long,
DATE→Date, VARCHAR(n)→String (length enforcement, where wanted, is a quality
check, not a type).
"""

from __future__ import annotations

from pyspark.sql.types import (
    ArrayType,
    DateType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

# --------------------------------------------------------------------------
# Reference pipeline schemas (canonical Portuguese names preserved;
# reference: dags/financial_pipeline.py:104-112)
# --------------------------------------------------------------------------

#: Raw OHLCV quotes — the ONE external input (CSV, headered).
STAGING = StructType(
    [
        StructField("date", DateType()),
        StructField("symbol", StringType()),
        StructField("open", DoubleType()),
        StructField("high", DoubleType()),
        StructField("low", DoubleType()),
        StructField("close", DoubleType()),
        StructField("volume", LongType()),
    ]
)

#: Instrument dimension (reference: dags/financial_pipeline.py:143-147).
DIM_INSTRUMENTO = StructType(
    [
        StructField("ticker", StringType()),
        StructField("nome_ativo", StringType()),
        StructField("tipo_ativo", StringType()),
    ]
)

#: Date dimension (reference: dags/financial_pipeline.py:153-158).
#: dia_da_semana uses PG DOW numbering 0=Sunday..6=Saturday.
DIM_TEMPO = StructType(
    [
        StructField("data_id", DateType()),
        StructField("ano", IntegerType()),
        StructField("mes", IntegerType()),
        StructField("dia_da_semana", IntegerType()),
    ]
)

#: Daily movement fact (reference: dags/financial_pipeline.py:170-180).
#: `id` is a surrogate key nothing downstream consumes; we keep it nullable
#: and generate it with monotonically_increasing_id (non-contiguous by design).
FACT_MOVIMENTACAO = StructType(
    [
        StructField("id", LongType()),
        StructField("ticker", StringType()),
        StructField("data_id", DateType()),
        StructField("open", DoubleType()),
        StructField("high", DoubleType()),
        StructField("low", DoubleType()),
        StructField("close", DoubleType()),
        StructField("volume", LongType()),
        StructField("variacao_diaria", DoubleType()),
    ]
)

#: Weekly volatility aggregate — the materialized-view replacement
#: (reference: dags/financial_pipeline.py:203-209).
VOLATILITY_WEEKLY = StructType(
    [
        StructField("ticker", StringType()),
        StructField("week", DateType()),
        StructField("vol", DoubleType()),
    ]
)

# --------------------------------------------------------------------------
# Driver fixture schemas (/root/testdata/sf*/; FIXTURES.md §2)
# --------------------------------------------------------------------------

FIXTURES: dict[str, StructType] = {
    "region": StructType(
        [
            StructField("r_regionkey", IntegerType()),
            StructField("r_name", StringType()),
        ]
    ),
    "nation": StructType(
        [
            StructField("n_nationkey", IntegerType()),
            StructField("n_name", StringType()),
            StructField("n_regionkey", IntegerType()),
        ]
    ),
    "customer": StructType(
        [
            StructField("c_custkey", LongType()),
            StructField("c_name", StringType()),
            StructField("c_nationkey", IntegerType()),
            StructField("c_acctbal", DoubleType()),
            StructField("c_mktsegment", StringType()),
        ]
    ),
    "supplier": StructType(
        [
            StructField("s_suppkey", LongType()),
            StructField("s_name", StringType()),
            StructField("s_nationkey", IntegerType()),
            StructField("s_acctbal", DoubleType()),
        ]
    ),
    "part": StructType(
        [
            StructField("p_partkey", LongType()),
            StructField("p_name", StringType()),
            StructField("p_brand", StringType()),
            StructField("p_type", StringType()),
            StructField("p_size", IntegerType()),
            StructField("p_retailprice", DoubleType()),
        ]
    ),
    "orders": StructType(
        [
            StructField("o_orderkey", LongType()),
            StructField("o_custkey", LongType()),
            StructField("o_orderstatus", StringType()),
            StructField("o_totalprice", DoubleType()),
            StructField("o_orderdate", TimestampType()),
            StructField("o_orderpriority", StringType()),
        ]
    ),
    "lineitem": StructType(
        [
            StructField("l_orderkey", LongType()),
            StructField("l_partkey", LongType()),
            StructField("l_suppkey", LongType()),
            StructField("l_linenumber", IntegerType()),
            StructField("l_quantity", DoubleType()),
            StructField("l_extendedprice", DoubleType()),
            StructField("l_discount", DoubleType()),
            StructField("l_tax", DoubleType()),
            StructField("l_returnflag", StringType()),
            StructField("l_linestatus", StringType()),
            StructField("l_shipdate", TimestampType()),
        ]
    ),
    "events": StructType(
        [
            StructField("event_id", LongType()),
            StructField("ts", TimestampType()),
            StructField("user_id", LongType()),
            StructField("event_type", StringType()),
            StructField("value", DoubleType()),
            StructField("props", StringType()),
        ]
    ),
    "documents": StructType(
        [
            StructField("doc_id", LongType()),
            StructField("text", StringType()),
            StructField("lang", StringType()),
            StructField("source", StringType()),
            StructField("n_chars", LongType()),
        ]
    ),
    "embeddings": StructType(
        [
            StructField("vec_id", LongType()),
            StructField("embedding", ArrayType(FloatType())),
            StructField("label", IntegerType()),
        ]
    ),
}

FIXTURE_TABLES = tuple(FIXTURES)
