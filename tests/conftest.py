"""Shared test fixtures: one SparkSession per test run + DuckDB oracle helper.

The oracle comparison here deliberately mirrors the driver's gate
(/root/repo/__spark_entry__.py): sort columns by name, order-insensitive row
compare, exact equality after presentation-edge rounding. If a query passes
here it should hash-match in CORRECTNESS_r{N}.json.
"""

from __future__ import annotations

import contextlib
import datetime as _dt
import math
import os

import duckdb
import numpy as np
import pandas as pd
import pytest

from airflow_etl_finance_market_spark.schemas import FIXTURE_TABLES
from airflow_etl_finance_market_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    s = get_spark("finmarket-tests", shuffle_partitions=8)
    yield s


@pytest.fixture
def job_group(spark):
    """``with job_group(name) as tracker:`` tags the block's Spark jobs with
    job group ``name``; after the block, ``tracker`` (the status tracker)
    lists them via ``getJobIdsForGroup(name)``. The listener bus is drained
    on exit, so every job the block ran is already in the tracker."""
    sc = spark.sparkContext

    @contextlib.contextmanager
    def tag(name: str):
        sc.setJobGroup(name, name)
        try:
            yield sc.statusTracker()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
            sc._jsc.sc().listenerBus().waitUntilEmpty()

    return tag


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture(scope="session")
def oracle(sf_dir):
    con = duckdb.connect()
    for t in FIXTURE_TABLES:
        path = f"{sf_dir}/{t}.parquet"
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    yield con
    con.close()


def _norm_cell(v):
    """Canonicalize a cell for cross-engine comparison.

    Numeric cells carry an explicit type tag: the driver's value hasher is
    type-sensitive (an oracle emitting HUGEINT/float64 where Spark emits
    bigint hash-mismatches even when the values are equal), but Python's
    ``0 == 0.0`` is True — an untagged compare once masked exactly that
    bug (a windowed DuckDB ``SUM(BIGINT)`` yields HUGEINT). Tagging int
    vs float here makes the local parity test fail the same way the
    driver would.
    """
    if v is None:
        return None
    if isinstance(v, (bool, np.bool_)):
        return ("bool", bool(v))
    if isinstance(v, (float, np.floating)):
        if math.isnan(v):
            return None
        return ("float", float(v))
    if isinstance(v, (int, np.integer)):
        return ("int", int(v))
    if isinstance(v, pd.Timestamp):
        return ("ts", v.to_pydatetime())
    if isinstance(v, _dt.datetime):
        return ("ts", v)
    if isinstance(v, _dt.date):
        return ("ts", _dt.datetime(v.year, v.month, v.day))
    return ("other", v)


def to_canonical_rows(df: pd.DataFrame) -> list[tuple]:
    """Columns sorted by name, cells normalized, rows sorted — the driver's
    order-insensitive view of a result."""
    cols = sorted(df.columns)
    out = []
    for row in df[cols].itertuples(index=False, name=None):
        out.append(tuple(_norm_cell(v) for v in row))
    out.sort(key=lambda r: tuple((v is None, str(type(v)), str(v)) for v in r))
    return out


def assert_query_matches_oracle(spark, oracle_con, fn, sql: str, sf_dir: str):
    got = fn(spark, sf_dir).toPandas()
    want = oracle_con.execute(sql).df()
    assert sorted(got.columns) == sorted(want.columns), (
        f"column mismatch: spark={sorted(got.columns)} oracle={sorted(want.columns)}"
    )
    assert len(got) == len(want), f"row count: spark={len(got)} oracle={len(want)}"
    grows = to_canonical_rows(got)
    wrows = to_canonical_rows(want)
    mismatches = [
        (i, a, b) for i, (a, b) in enumerate(zip(grows, wrows)) if a != b
    ]
    assert not mismatches, (
        f"{len(mismatches)} mismatching rows; first 3: {mismatches[:3]}"
    )
