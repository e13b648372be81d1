"""Incremental daily load (plans/pipeline.py incremental_date=):
dynamic partition overwrite must rewrite ONLY the touched month/week
partitions — every other partition's files stay byte-identical — the
rewritten day must carry the same values as the full reload, and the
month's other days must keep their stored rows."""

from __future__ import annotations

import datetime as dt
import hashlib
import os

from pyspark.sql import functions as F

from airflow_etl_finance_market_spark.plans.pipeline import run_pipeline
from tests.make_ohlcv import write_csv

DAY = dt.date(2024, 1, 10)  # a Wednesday mid-series; prev trading day 01-09
WEEK = dt.date(2024, 1, 8)  # its Monday


def _snapshot(root: str) -> dict[str, str]:
    out = {}
    for dirpath, _, files in os.walk(root):
        for f in files:
            if f.startswith(("_", ".")):
                continue
            p = os.path.join(dirpath, f)
            out[os.path.relpath(p, root)] = hashlib.md5(
                open(p, "rb").read()
            ).hexdigest()
    return out


def _month_rows(spark, path, day):
    """Stored rows, ``id`` included, of ``day``'s month other than ``day``."""
    return sorted(
        tuple(r)
        for r in spark.read.parquet(path)
        .filter(
            (F.col("ano") == day.year)
            & (F.col("mes") == day.month)
            & (F.col("data_id") != F.lit(day))
        )
        .collect()
    )


def _day_rows(spark, path, day):
    return {
        r["ticker"]: (r["close"], r["volume"], round(r["variacao_diaria"], 9))
        for r in spark.read.parquet(path)
        .filter(F.col("data_id") == F.lit(day))
        .collect()
    }


def test_incremental_touches_only_its_partitions(spark, tmp_path):
    csv = str(tmp_path / "quotes.csv")
    write_csv(csv)
    wh = str(tmp_path / "wh")
    full = run_pipeline(spark, csv, wh)

    fact_path = f"{wh}/fact_movimentacao_diaria"
    weekly_path = f"{wh}/volatility_weekly"
    fact_before = _snapshot(fact_path)
    weekly_before = _snapshot(weekly_path)
    day_before = _day_rows(spark, fact_path, DAY)
    month_before = _month_rows(spark, fact_path, DAY)
    weekly_rows_before = {
        (r["ticker"], r["week"]): r["vol"]
        for r in spark.read.parquet(weekly_path).collect()
    }
    assert day_before, "fixture must contain the incremental day"
    assert month_before, "the day's month must hold other days"

    inc = run_pipeline(spark, csv, wh, incremental_date=DAY)
    assert inc.staged_rows == len(day_before)  # only that day staged
    assert inc.fact_rows == len(day_before)

    # every file OUTSIDE the touched month/week partition is byte-identical
    month_prefix = os.path.join("ano=2024", "mes=1") + os.sep
    week_prefix = f"week={WEEK.isoformat()}"
    fact_after = _snapshot(fact_path)
    untouched_before = {k: v for k, v in fact_before.items()
                        if not k.startswith(month_prefix)}
    untouched_after = {k: v for k, v in fact_after.items()
                       if not k.startswith(month_prefix)}
    assert untouched_before and untouched_before == untouched_after
    assert any(k.startswith(month_prefix) for k in fact_after)

    weekly_after = _snapshot(weekly_path)
    assert {k: v for k, v in weekly_before.items()
            if not k.startswith(week_prefix)} == \
           {k: v for k, v in weekly_after.items()
            if not k.startswith(week_prefix)}

    # the rewritten day's values match the full reload (variacao seeded
    # from the existing fact == the LAG over full history)
    assert _day_rows(spark, fact_path, DAY) == day_before
    # the month's other days keep their stored rows, ids included
    assert _month_rows(spark, fact_path, DAY) == month_before

    # weekly MV content identical to the full refresh, table-wide (the
    # recomputed week's stddev may differ in the last ulp — float
    # summation order changes when aggregating from the parquet read-back)
    weekly_rows_after = {
        (r["ticker"], r["week"]): r["vol"]
        for r in spark.read.parquet(weekly_path).collect()
    }
    assert weekly_rows_after.keys() == weekly_rows_before.keys()
    for k, v in weekly_rows_before.items():
        w = weekly_rows_after[k]
        assert (v is None and w is None) or abs(w - v) <= 1e-12 * max(
            abs(v), 1.0
        ), (k, v, w)

    # total row count unchanged — the increment replaced, not appended
    assert spark.read.parquet(fact_path).count() == full.fact_rows

    # rerunning the day is idempotent: the month is rebuilt, not appended to
    run_pipeline(spark, csv, wh, incremental_date=DAY)
    assert _day_rows(spark, fact_path, DAY) == day_before
    assert _month_rows(spark, fact_path, DAY) == month_before
    assert spark.read.parquet(fact_path).count() == full.fact_rows


def test_incremental_without_existing_fact_fails(spark, tmp_path):
    csv = str(tmp_path / "quotes.csv")
    write_csv(csv)
    import pytest
    from pyspark.errors import AnalysisException

    with pytest.raises(AnalysisException):
        run_pipeline(spark, csv, str(tmp_path / "fresh_wh"),
                     incremental_date=DAY)
