"""PySpark-native analytics engine with the query and data-processing
capabilities of the reference financial-ETL pipeline
(danbernardo/airflow-etl-finance-market, surveyed in /root/repo/SURVEY.md).

Everything here is built Spark-first on the public PySpark DataFrame/SQL API:
the logical plan is declared declaratively and Catalyst/Tungsten pick the
physical strategy. Python UDFs are avoided in the parity tier entirely; the
extension tier (similarity search) uses Arrow-batched Pandas UDFs
only where built-in functions cannot express the semantics.

Layout:
    session.py    SparkSession factory (AQE on, UTC, tuned shuffle partitions)
    schemas.py    explicit StructTypes (reference schemas + driver fixtures)
    sources/      readers (CSV/Parquet, schema-first) and sinks
                  (overwrite, anti-join append a.k.a. ON CONFLICT DO NOTHING)
    functions/    column-level expression helpers (datetime, finance, text,
                  vector) -- all native Catalyst expressions
    operators/    dataframe-level operators (quality gates, dedup family,
                  similarity search, top-k, scoring)
    plans/        full query plans / pipeline stages (the 9-task reference
                  chain re-expressed as one Spark driver program, analytics)
    streaming/    Structured Streaming variants (weekly windowed volatility)
"""

__version__ = "0.1.0"
