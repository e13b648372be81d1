"""End-to-end pipeline test + semantic-trap regressions (SURVEY.md §5.2).

Golden invariants from the reference semantics:
- first row per ticker has NULL variacao_diaria (LAG window, W1);
- the day after a zero close has NULL variacao_diaria (NULLIF guard, F7);
- singleton weeks have NULL vol (stddev_samp of 1 row, A3);
- the quality gate trips on injected NULL close/date (C4);
- rerunning the pipeline is idempotent (C5, TRUNCATE-reload semantics);
- dim_tempo carries PG DOW numbering (F4 off-by-one).
"""

from __future__ import annotations

import datetime as dt
import os
import shutil
import threading

import pytest
from pyspark.sql import functions as F

from airflow_etl_finance_market_spark.operators.quality import QualityGateError
from airflow_etl_finance_market_spark.plans.pipeline import STAGES, run_pipeline
from tests.make_ohlcv import TICKERS, write_csv


@pytest.fixture(scope="module")
def warehouse(tmp_path_factory):
    return str(tmp_path_factory.mktemp("warehouse"))


@pytest.fixture(scope="module")
def ohlcv_csv(tmp_path_factory):
    p = tmp_path_factory.mktemp("input") / "quotes.csv"
    write_csv(str(p))
    return str(p)


@pytest.fixture(scope="module")
def result(spark, ohlcv_csv, warehouse):
    return run_pipeline(spark, ohlcv_csv, warehouse)


def test_pipeline_counts(result):
    assert result.staged_rows > 0
    assert result.fact_rows == result.staged_rows
    assert result.weekly_rows > 0
    assert "Ativo mais volátil" in result.report_message


def test_weekly_rows_and_message_match_stored_table(spark, result, warehouse):
    """The full reload counts the weekly MV and ranks its top-k from the
    frame it writes, not from a re-read: both must still equal what the
    stored table gives."""
    from airflow_etl_finance_market_spark.plans.volatility import top_avg_volatility
    from airflow_etl_finance_market_spark.schemas import VOLATILITY_WEEKLY

    stored = spark.read.schema(VOLATILITY_WEEKLY).parquet(f"{warehouse}/volatility_weekly")
    assert result.weekly_rows == stored.count()
    r = top_avg_volatility(stored, k=1).collect()[0]
    assert result.report_message == (
        f"Ativo mais volátil: {r['ticker']} "
        f"(volatilidade média semanal: {r['avg_volatility']:.2f}%)"
    )


def test_first_day_null_change(spark, result, warehouse):
    fact = spark.read.parquet(f"{warehouse}/fact_movimentacao_diaria")
    firsts = (
        fact.groupBy("ticker")
        .agg(F.min("data_id").alias("d0"))
        .join(fact, ["ticker"])
        .filter(F.col("data_id") == F.col("d0"))
    )
    assert firsts.count() == len(TICKERS) + 0  # one first row per ticker
    assert firsts.filter(F.col("variacao_diaria").isNotNull()).count() == 0


def test_zero_close_nullif_guard(spark, result, warehouse):
    fact = spark.read.parquet(f"{warehouse}/fact_movimentacao_diaria")
    zero_days = fact.filter(F.col("close") == 0.0).select("ticker", "data_id").collect()
    assert zero_days, "generator must include a zero close"
    for r in zero_days:
        nxt = (
            fact.filter((F.col("ticker") == r["ticker"]) & (F.col("data_id") > r["data_id"]))
            .orderBy("data_id")
            .limit(1)
            .collect()
        )
        if nxt:
            assert nxt[0]["variacao_diaria"] is None


def test_singleton_week_null_vol(spark, result, warehouse):
    weekly = spark.read.parquet(f"{warehouse}/volatility_weekly")
    # SYM03's isolated trade sits alone in its week → stddev_samp = NULL.
    iso = weekly.filter(
        (F.col("ticker") == "SYM03") & (F.col("week") >= dt.date(2024, 3, 10))
    ).collect()
    assert iso and all(r["vol"] is None for r in iso)


def test_week_is_monday(spark, result, warehouse):
    weekly = spark.read.parquet(f"{warehouse}/volatility_weekly")
    assert weekly.filter(F.dayofweek("week") != 2).count() == 0  # Spark: Monday=2


def test_dim_tempo_pg_dow(spark, result, warehouse):
    dim = spark.read.parquet(f"{warehouse}/dim_tempo")
    # 2024-01-02 is a Tuesday → PG DOW 2.
    row = dim.filter(F.col("data_id") == dt.date(2024, 1, 2)).collect()[0]
    assert row["dia_da_semana"] == 2
    assert row["ano"] == 2024 and row["mes"] == 1
    # generator never emits weekend rows except none; range check
    assert dim.filter((F.col("dia_da_semana") < 0) | (F.col("dia_da_semana") > 6)).count() == 0


def test_dim_instrumento_shape(spark, result, warehouse):
    dim = spark.read.parquet(f"{warehouse}/dim_instrumento")
    rows = {r["ticker"]: r for r in dim.collect()}
    assert set(rows) == set(TICKERS)
    assert rows["SYM01"]["nome_ativo"] == "Ativo SYM01"
    assert rows["SYM01"]["tipo_ativo"] == "Acao"


def test_fact_layout_is_year_month(result, warehouse):
    """The fact is stored as one ``ano=/mes=`` directory per month holding
    one parquet file, and no ``data_id=`` directory. The layout keeps two
    directory levels, so the benchmark oracle's DuckDB glob
    ``fact_movimentacao_diaria/*/*/*.parquet`` (perfbench/oracle.py) still
    reads every row."""
    root = f"{warehouse}/fact_movimentacao_diaria"
    file_dirs = sorted(
        os.path.relpath(d, root)
        for d, _, fs in os.walk(root)
        for f in fs
        if f.endswith(".parquet")
    )
    assert file_dirs == ["ano=2024/mes=1", "ano=2024/mes=2", "ano=2024/mes=3"]
    assert not any("data_id=" in d for d, _, _ in os.walk(root))


def test_rerun_idempotent(spark, ohlcv_csv, warehouse, result):
    again = run_pipeline(spark, ohlcv_csv, warehouse)
    assert again.staged_rows == result.staged_rows
    assert again.fact_rows == result.fact_rows
    assert again.weekly_rows == result.weekly_rows
    # dims must not grow on rerun (ON CONFLICT DO NOTHING semantics)
    assert (
        spark.read.parquet(f"{warehouse}/dim_instrumento").count() == len(TICKERS)
    )


def test_warm_rerun_job_count(spark, ohlcv_csv, warehouse, result, job_group):
    """A warm full reload runs a fixed number of Spark jobs on this input,
    so a change in the count means the plan changed, not the host. It was
    26 before staging and the weekly MV were re-read with their DDL schemas
    (two footer-inference jobs gone) and the gate row was collected once
    (one job gone); the benchmark's traced reload moved 26 -> 23 too.
    23 -> 21: each dim append reads its existing table with the incoming
    schema, so its footer-inference job is gone (-2). Writing the fact by
    month instead of by day changes no job: the reload never reads it.
    21 -> 16: the counts come from the writes. A dump of job call sites
    before and after: the gate's collect (2 jobs; the staging write now
    observes the gate), the fact's ``count`` (4) and the weekly MV's
    re-read ``count`` (2) are gone. The window shuffle and the cache fill
    moved into whichever reader of the cached fact runs first, so the fact
    write, the weekly write and the top-k collect (now over the in-memory
    weekly frame) run 9 jobs where they ran 6 (+3)."""
    with job_group("pipeline-rerun") as tracker:
        run_pipeline(spark, ohlcv_csv, warehouse)
    assert len(tracker.getJobIdsForGroup("pipeline-rerun")) == 16


def test_warm_rerun_with_both_sinks(
    spark, ohlcv_csv, warehouse, result, job_group, tmp_path
):
    """The report and chart sinks share one aggregate of the cached fact,
    collected once: a map job and a result job on top of the plain reload's
    16. (They added 12 when each sink ran its own overview and ranking
    queries.) The files equal those of runs with one sink each."""
    charts = {"both": tmp_path / "both", "only": tmp_path / "only"}
    report = {"both": tmp_path / "both.txt", "only": tmp_path / "only.txt"}
    with job_group("pipeline-sinks") as tracker:
        run_pipeline(
            spark, ohlcv_csv, warehouse,
            report_path=str(report["both"]), charts_dir=str(charts["both"]),
        )
    assert len(tracker.getJobIdsForGroup("pipeline-sinks")) == 18
    run_pipeline(spark, ohlcv_csv, warehouse, report_path=str(report["only"]))
    run_pipeline(spark, ohlcv_csv, warehouse, charts_dir=str(charts["only"]))
    assert report["both"].read_bytes() == report["only"].read_bytes()
    pngs = sorted(p.name for p in charts["only"].iterdir())
    assert len(pngs) == 4
    for name in pngs:
        assert (charts["both"] / name).read_bytes() == (charts["only"] / name).read_bytes()

def test_report_file_written(spark, ohlcv_csv, warehouse, result, tmp_path):
    """S9: run with report_path writes the notebook-equivalent artifact,
    consistent with the XCom report message."""
    path = tmp_path / "relatorio_completo.txt"
    again = run_pipeline(spark, ohlcv_csv, warehouse, report_path=str(path))
    text = path.read_text(encoding="utf-8")
    assert "RELATÓRIO EXECUTIVO" in text
    assert "MAIS VOLÁTEIS" in text and "MAIS NEGOCIADAS" in text
    # the report message's top ticker leads the volatility ranking
    top = again.report_message.split(":")[1].strip().split(" ")[0]
    assert f"1. {top}:" in text


def test_chart_files_written(spark, ohlcv_csv, warehouse, result, tmp_path):
    """S9 chart sinks: run with charts_dir writes the notebook's four PNGs
    with the daily-change rankings embedded in their metadata."""
    from airflow_etl_finance_market_spark.plans.charts import read_png_meta

    charts = tmp_path / "outputs"
    run_pipeline(spark, ohlcv_csv, warehouse, charts_dir=str(charts))
    names = sorted(p.name for p in charts.iterdir())
    assert names == [
        "01_volatilidade.png",
        "02_performance.png",
        "03_volume.png",
        "04_risco_retorno.png",
    ]
    meta = read_png_meta(str(charts / "01_volatilidade.png"))
    assert meta["title"].startswith("TOP 5") and "=" in meta["series"]


def test_stage_seconds(result):
    """Every stage's own wall is reported; the overlapping branches may
    sum past the total, but none can outlast it."""
    assert tuple(result.stage_seconds) == STAGES
    assert all(s > 0 for s in result.stage_seconds.values())
    assert max(result.stage_seconds.values()) == result.stage_seconds["total"]


def test_branch_failure_raised_cache_released_threads_joined(
    spark, ohlcv_csv, warehouse, result, tmp_path
):
    """Failing dim branches fail the run with the first one's own read
    error, the other attached as a note, after every branch has finished:
    the fact cache is released and no pool thread outlives the call."""
    wh = tmp_path / "wh"
    shutil.copytree(warehouse, wh)
    for dim in ("dim_instrumento", "dim_tempo"):
        (wh / dim / "part-0.parquet").write_bytes(b"not parquet")
    spark.catalog.clearCache()
    threads = threading.active_count()
    with pytest.raises(Exception, match="dim_instrumento/part-0.parquet") as err:
        run_pipeline(spark, ohlcv_csv, str(wh))
    notes = getattr(err.value, "__notes__", [])
    assert len(notes) == 1 and "branch dim_tempo also failed" in notes[0]
    assert "dim_tempo/part-0.parquet" in notes[0]
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
    assert threading.active_count() == threads


def _no_sink_written(wh: str) -> bool:
    return not any(
        os.path.exists(f"{wh}/{t}")
        for t in ("dim_instrumento", "dim_tempo", "fact_movimentacao_diaria",
                  "volatility_weekly")
    )


def test_gate_trips_on_corruption(spark, tmp_path):
    bad_csv = str(tmp_path / "bad.csv")
    write_csv(bad_csv, corrupt=True)
    with pytest.raises(QualityGateError):
        run_pipeline(spark, bad_csv, str(tmp_path / "wh"))
    assert _no_sink_written(str(tmp_path / "wh"))


def test_gate_trips_on_wrong_count(spark, ohlcv_csv, tmp_path):
    """The gate halts the run before any sink is submitted (C4)."""
    with pytest.raises(QualityGateError):
        run_pipeline(spark, ohlcv_csv, str(tmp_path / "wh2"), expected_count=123)
    assert _no_sink_written(str(tmp_path / "wh2"))


def test_missing_csv_fails_fast(spark, tmp_path):
    with pytest.raises(FileNotFoundError):
        run_pipeline(spark, str(tmp_path / "nope.csv"), str(tmp_path / "wh3"))


def test_activity_rollup_composes_ffill_and_hll(spark, sf_dir, tmp_path):
    """run_activity_rollup (r05 verdict #7): the gap-free weekly panel and
    the sketch-merged distinct-user counts land as warehouse tables from
    ONE composed run; re-running overwrites idempotently and the summary
    artifact is byte-stable."""
    from pyspark.sql import functions as F

    from airflow_etl_finance_market_spark.plans.pipeline import (
        run_activity_rollup,
    )
    from airflow_etl_finance_market_spark.sources.readers import load_fixture

    ev = load_fixture(spark, sf_dir, "events")
    wh = str(tmp_path / "wh_activity")
    s1 = str(tmp_path / "activity1.txt")
    r1 = run_activity_rollup(spark, ev, wh, summary_path=s1)

    # the weekly panel is GAP-FREE: per (user, week) day coverage sums to
    # the daily panel, and every daily row carries a non-null fill
    daily = spark.read.parquet(f"{wh}/activity_panel_daily")
    weekly = spark.read.parquet(f"{wh}/activity_panel_weekly")
    assert r1.daily_panel_rows == daily.count() > 0
    assert weekly.agg(F.sum("n_days")).first()[0] == r1.daily_panel_rows
    assert daily.filter(F.col("value_filled").isNull()).count() == 0

    # distinct-user counts come from MERGED STORED sketches and must sit
    # within the lgK=12 error bar of the exact count, week by week
    wk_users = spark.read.parquet(f"{wh}/user_counts_weekly")
    exact = ev.groupBy(
        F.date_trunc("week", F.col("ts").cast("date")).cast("date").alias(
            "week"
        )
    ).agg(F.countDistinct("user_id").alias("n"))
    bad = (
        wk_users.join(exact, "week")
        .filter(
            F.abs(F.col("users_est") - F.col("n")) / F.col("n") > 0.05
        )
        .count()
    )
    assert bad == 0 and wk_users.count() == r1.weekly_user_rows > 0

    # idempotent re-run, byte-stable summary artifact
    s2 = str(tmp_path / "activity2.txt")
    r2 = run_activity_rollup(spark, ev, wh, summary_path=s2)
    assert r1 == r2
    with open(s1, "rb") as a, open(s2, "rb") as b:
        assert a.read() == b.read()
