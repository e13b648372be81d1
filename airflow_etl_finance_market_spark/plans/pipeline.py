"""The reference's 9-task Airflow chain as ONE Spark driver program.

Reference chain (reference: dags/financial_pipeline.py:227):

    setup_staging → locate_csv → load_staging → quality_checks →
    create_dims → load_fact → volatility_view → report → log

Here the nine Postgres round-trips collapse into one SparkSession program
(SURVEY.md §3 entry point 1): stage boundaries become shuffle boundaries, the
only process boundary left is driver↔executors, and XCom scalars become plain
return values. Each stage writes Parquet with overwrite semantics, so a rerun
is idempotent exactly like the reference's TRUNCATE-reload (C5).

Orchestration note: this function IS the Airflow task body — a production
deployment wraps `run_pipeline` in a single SparkSubmitOperator (retries at
the orchestrator level, C2), rather than one task per stage; Spark's own DAG
scheduler parallelizes within.

Scale design (100 TB posture):
- the reference's chain is strictly linear, but after the quality gate the
  sinks depend only on staging and on the fact. They run as concurrent
  Spark jobs from driver threads, and Spark's FIFO scheduler shares the
  cores between them: on the full reload the two dimension appends, the
  weekly MV write, the top-k collect and the fact write all start at once.
  Staging and the gate come first because every sink reads staging and
  none may be submitted before the gate passes (C4). On the incremental
  path the weekly MV re-reads the stored fact, so it runs after the fact's
  partition overwrite and only the dims overlap. On a cluster the same
  threads just queue the jobs in FIFO order;
- the gate and the row counts ride the writes: the gate's aggregates are
  observed in the job that writes staging, `fact_rows` is the staged count,
  and on the full reload `weekly_rows` is the count the weekly write
  observed (`overwrite_parquet` returns it). Only the incremental path
  re-reads the weekly MV, for its table-wide count and top-k;
- the fact table is written partitioned by `ano`/`mes` (year, month): one
  directory and one file per month, about 120 directories for the paper's
  ten years (2,500 trading days). Every directory level stays under
  Spark's 32-path threshold, so a scan of the fact lists it on the driver
  instead of starting a distributed listing job, and year or month
  predicates still prune. The incremental daily run (`incremental_date=`)
  rewrites ONLY the touched month and week partitions under dynamic
  partitionOverwriteMode. Rows are not sorted within a file: a month of the
  paper's input is about 6k rows, one row group, so a sort would buy no
  row-group skipping;
- the fact DataFrame is cached between its consumers (fact write, weekly
  write, top-k, report) so the window computation runs once: whichever
  consumer comes first fills the cache, and the concurrent ones wait on
  its block locks instead of recomputing it. It is unpersisted whether the
  run succeeds or fails;
- dims use the anti-join append sink (ON CONFLICT DO NOTHING, S6) — the
  incoming distinct keys are the broadcast side;
- nothing `.collect()`s except the ≤k-row report;
- every re-read of a table the run wrote (staging, the weekly MV, the fact
  on the incremental path) passes the table's DDL schema from ``schemas``,
  so no read pays a footer-inference job before its scan.
"""

from __future__ import annotations

import contextlib
import datetime as dt
import logging
import time
from concurrent.futures import Future, ThreadPoolExecutor
from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.util import inheritable_thread_target

# quality_summary is not called here but stays a name of this module:
# perfbench's traced run wraps each name of its PIPELINE_CALLS here
from ..operators.quality import expect_passed, gate_columns, quality_summary  # noqa: F401
from ..schemas import FACT_MOVIMENTACAO, STAGING, VOLATILITY_WEEKLY
from ..sources.readers import read_ohlcv_csv
from ..sources.sinks import append_if_absent, overwrite_parquet, overwrite_partitions
from .dims import build_dim_instrumento, build_dim_tempo
from .volatility import daily_pct_change, top_avg_volatility, weekly_volatility

log = logging.getLogger(__name__)

# the keys of PipelineResult.stage_seconds, in the order they are logged
STAGES = ("staging", "gate", "dim_instrumento", "dim_tempo", "fact", "weekly", "total")
# the fact's partition columns: year and month of data_id
_FACT_PARTITIONS = ["ano", "mes"]
# branches on pool threads: the two dims and the full reload's weekly MV
# write and top-k; the fact runs on the calling thread
_SINK_BRANCHES = 4


@dataclass
class PipelineResult:
    """What the reference pushed through XCom, as plain values (C3).

    ``stage_seconds`` holds the wall of each of ``STAGES``. The dims, the
    fact and the weekly MV overlap, so their walls can sum past ``total``.
    The full reload's top-k branch is no stage of its own.
    """

    staged_rows: int
    fact_rows: int
    weekly_rows: int
    report_message: str
    stage_seconds: dict[str, float]


@contextlib.contextmanager
def _timed(seconds: dict[str, float], stage: str):
    t = time.perf_counter()
    yield
    seconds[stage] = time.perf_counter() - t


class _Branches:
    """Sink branches of one run, as concurrent Spark jobs from driver threads.

    Each branch is wrapped with ``inheritable_thread_target(spark)`` when it
    is submitted, so its jobs carry the submitting thread's job group,
    description and tags. Its wall goes to ``seconds[stage]``.

    Leaving the block waits for every branch, also when the block itself
    raised, and then raises the first error: the block's own, else that of
    the first failed branch in submission order. Every other branch's error
    is logged and attached to it as a note.
    """

    def __init__(self, spark: SparkSession, seconds: dict[str, float]):
        self._spark = spark
        self._seconds = seconds
        self._futures: dict[str, Future] = {}
        self._pool = ThreadPoolExecutor(_SINK_BRANCHES, thread_name_prefix="run_pipeline")

    def submit(self, stage: str, fn) -> None:
        """Run ``fn()`` as branch ``stage``; its plan is built on the branch
        thread too, so that driver work overlaps the other branches."""

        def branch():
            with _timed(self._seconds, stage):
                return fn()

        target = inheritable_thread_target(self._spark)(branch)
        self._futures[stage] = self._pool.submit(target)

    def result(self, stage: str):
        return self._futures[stage].result()

    def __enter__(self) -> _Branches:
        return self

    def __exit__(self, exc_type, exc, tb) -> None:
        self._pool.shutdown(wait=True)
        failed = [(s, f.exception()) for s, f in self._futures.items() if f.exception()]
        first = exc
        if first is None and failed:
            first = failed.pop(0)[1]
        for stage, err in failed:
            log.error("run_pipeline branch %s also failed", stage, exc_info=err)
            first.add_note(f"run_pipeline branch {stage} also failed: {type(err).__name__}: {err}")
        if first is not exc:
            raise first  # a branch's error; the block's own propagates on return


@dataclass
class ActivityRollupResult:
    """Row counts + the deterministic summary of ``run_activity_rollup``."""

    daily_panel_rows: int
    weekly_panel_rows: int
    weekly_user_rows: int
    users_alltime_est: int
    summary_text: str


def run_activity_rollup(
    spark: SparkSession,
    events: DataFrame,
    warehouse_dir: str,
    *,
    summary_path: str | None = None,
) -> ActivityRollupResult:
    """The event-side daily run composed from the oracle-green operators
    (r05 verdict #7): what a consumer of the reference's star actually
    reads — a GAP-FREE panel and distinct-user counts — wired E2E
    instead of existing only as registry entries.

    Four written tables, all overwrite-idempotent like the main chain:

    - ``activity_panel_daily``: resample_daily_ffill over events — one
      row per (user, day) of the user's own span, gap days carrying the
      last observed daily average;
    - ``activity_panel_weekly``: the daily panel rolled to Monday weeks
      (end-of-week carried value via max_by(value_filled, d), observed-
      day counts) — the gap-free WEEKLY panel; derived from the STORED
      daily panel, so the window fill never recomputes;
    - ``user_sketches_daily``: one DataSketches HLL binary per day (the
      mergeable intermediate, hll_daily_user_sketches);
    - ``user_counts_weekly``: weekly distinct-user estimates obtained by
      MERGING the STORED daily sketches (hll_rollup_estimate) — the
      100 TB point of the pattern: coarser rollups never rescan events.

    The returned ``summary_text`` (optionally written to
    ``summary_path``) is a pure function of the data — byte-stable
    across re-runs, like the executive report (S9 discipline).
    """
    from ..functions.datetime import week_start
    from ..operators.asof import resample_daily_ffill
    from .analytics import hll_daily_user_sketches, hll_rollup_estimate

    panel_path = f"{warehouse_dir}/activity_panel_daily"
    weekly_panel_path = f"{warehouse_dir}/activity_panel_weekly"
    sketch_path = f"{warehouse_dir}/user_sketches_daily"
    weekly_users_path = f"{warehouse_dir}/user_counts_weekly"

    panel = resample_daily_ffill(
        events, key="user_id", ts="ts", value="value"
    )
    daily_rows = overwrite_parquet(panel, panel_path)
    panel = spark.read.parquet(panel_path)  # stored panel feeds the rollup
    weekly_panel = (
        panel.groupBy("user_id", week_start("d").alias("week"))
        .agg(
            F.max_by("value_filled", "d").alias("eow_value"),
            F.sum(F.col("is_observed").cast("int")).alias("n_observed"),
            F.count(F.lit(1)).alias("n_days"),
        )
    )
    weekly_rows = overwrite_parquet(weekly_panel, weekly_panel_path)

    sketches = hll_daily_user_sketches(events)
    overwrite_parquet(sketches, sketch_path)
    stored = spark.read.parquet(sketch_path)  # rollup merges STORED sketches
    weekly_users = hll_rollup_estimate(
        stored.withColumn("week", week_start("d")), group_cols=("week",)
    )
    user_rows = overwrite_parquet(weekly_users, weekly_users_path)
    alltime = int(hll_rollup_estimate(stored).first()["users_est"])
    summary = "\n".join(
        [
            "ACTIVITY ROLLUP",
            f"daily panel rows: {daily_rows}",
            f"weekly panel rows: {weekly_rows}",
            f"weekly user-count rows: {user_rows}",
            f"all-time distinct users (sketch-merged): {alltime}",
            "",
        ]
    )
    if summary_path:
        with open(summary_path, "w", encoding="utf-8") as fh:
            fh.write(summary)
    log.info("activity rollup ok: %s/%s/%s rows", daily_rows, weekly_rows,
             user_rows)
    return ActivityRollupResult(
        daily_panel_rows=daily_rows,
        weekly_panel_rows=weekly_rows,
        weekly_user_rows=user_rows,
        users_alltime_est=alltime,
        summary_text=summary,
    )


def build_fact(staging: DataFrame) -> DataFrame:
    """staging → fact_movimentacao_diaria (P1, W1, W2, F7 + surrogate id).

    Projection/rename mirrors the INSERT..SELECT
    (reference: dags/financial_pipeline.py:184-194); the id is
    monotonically_increasing_id — non-contiguous, but nothing downstream
    consumes it (SURVEY.md §1.2) and it avoids the total-order shuffle a
    row_number surrogate would force.
    """
    changes = daily_pct_change(
        staging, key="symbol", ts="date", value="close"
    )
    return changes.select(
        F.monotonically_increasing_id().alias("id"),
        F.col("symbol").alias("ticker"),
        F.col("date").alias("data_id"),
        "open",
        "high",
        "low",
        "close",
        "volume",
        "variacao_diaria",
    )


def _stored_months(spark: SparkSession, fact_path: str, lo: dt.date, hi: dt.date) -> DataFrame:
    """The stored fact, read from only the month partitions that cover the
    days ``lo``..``hi``: ``data_id`` is no partition column, so a filter on
    it alone would open every month."""
    month = F.col("ano") * 100 + F.col("mes")
    return spark.read.schema(FACT_MOVIMENTACAO).parquet(fact_path).filter(
        month.between(lo.year * 100 + lo.month, hi.year * 100 + hi.month)
    )


def _incremental_fact(
    spark: SparkSession,
    staging: DataFrame,
    fact_path: str,
    day: dt.date,
    lookback_days: int,
) -> DataFrame:
    """One day's fact rows with variacao_diaria seeded from the EXISTING
    fact table instead of a full-history LAG window.

    The previous close per ticker comes from a scan of the last
    ``lookback_days`` days, pruned to the months that cover them
    (max_by(close, data_id) — one small hash aggregate, |tickers| rows,
    broadcast into the day's join). Matches the full-reload LAG exactly
    whenever each ticker's previous trading day is within the lookback; a
    longer gap yields NULL, the same as a series' first-ever row.
    """
    lo = day - dt.timedelta(days=lookback_days)
    prev = (
        _stored_months(spark, fact_path, lo, day)
        .filter((F.col("data_id") >= F.lit(lo)) & (F.col("data_id") < F.lit(day)))
        .groupBy("ticker")
        .agg(F.max_by("close", "data_id").alias("_prev_close"))
    )
    day_rows = staging.select(
        F.col("symbol").alias("ticker"),
        F.col("date").alias("data_id"),
        "open", "high", "low", "close", "volume",
    )
    # same formula as functions.finance.pct_change: NULLIF(prev, 0) guard
    variacao = (
        (F.col("close") - F.col("_prev_close"))
        / F.when(F.col("_prev_close") != 0, F.col("_prev_close"))
        * 100
    )
    return (
        day_rows.join(F.broadcast(prev), on="ticker", how="left")
        .withColumn("variacao_diaria", variacao)
        .select(
            F.monotonically_increasing_id().alias("id"),
            "ticker", "data_id", "open", "high", "low", "close", "volume",
            "variacao_diaria",
        )
    )


def _month_with_day(
    spark: SparkSession, day_fact: DataFrame, fact_path: str, day: dt.date
) -> DataFrame:
    """The month partition of ``day`` as it must be stored: its stored rows
    of every other day, with their stored values (``id`` included), plus
    ``day_fact``. Dynamic overwrite stages the write and swaps the month's
    directory only at commit, so the plan may read the month it rewrites."""
    kept = _stored_months(spark, fact_path, day, day).filter(F.col("data_id") != F.lit(day))
    return kept.unionByName(day_fact)


def _refresh_weekly(
    spark: SparkSession, daily: DataFrame, weekly_path: str, top_k: int
) -> tuple[int, list]:
    """Overwrite the weeks of the ``daily`` fact rows in the weekly MV, then
    re-read the whole stored table with its DDL schema: its row count and
    its top-k rows. The incremental day needs this re-read because it
    rewrites one week of a table whose every week counts; the full reload
    takes both numbers from the frame it writes instead."""
    weekly = weekly_volatility(daily, key="ticker", ts="data_id")
    overwrite_partitions(weekly, weekly_path, partition_by=["week"])
    stored = spark.read.schema(VOLATILITY_WEEKLY).parquet(weekly_path)
    return stored.count(), top_avg_volatility(stored, k=top_k).collect()


def run_pipeline(
    spark: SparkSession,
    csv_path: str,
    warehouse_dir: str,
    *,
    expected_count: int | None = None,
    top_k: int = 1,
    report_path: str | None = None,
    charts_dir: str | None = None,
    incremental_date: dt.date | None = None,
    lookback_days: int = 14,
) -> PipelineResult:
    """Execute the full daily run. Raises QualityGateError to halt (C4).

    Staging and the quality gate run first: the gate's aggregates are
    observed by the staging write, and no sink is submitted before the gate
    passes. Then the two dimension appends run on pool threads beside the
    fact write (window, cache, write) on the calling thread. On the full
    reload the weekly MV write and the top-k collect over the same weekly
    frame join them as two more branches, all reading the one cached fact;
    the row counts are those the writes observed. Each branch inherits the
    caller's job group and tags. The run waits for every branch, raises
    the first error with the others attached as notes, and always
    unpersists the fact.

    ``report_path``: when set, write the executive text report (S9,
    the notebook's `relatorio_completo.txt`) there from the fact table.

    ``charts_dir``: when set, also render the notebook's four PNG figures
    there (S9 chart sinks, plans/charts.py).

    ``incremental_date``: when set, load ONLY that day — the CSV scan is
    filtered (predicate pushdown), the day's variacao_diaria is seeded from
    the existing fact (see ``_incremental_fact``), and both the fact and
    the weekly MV are refreshed via DYNAMIC partition overwrite: only the
    ``ano=/mes=`` directory of that day's month and the ``week=`` directory
    of its week are rewritten; every other partition's files stay
    untouched. The month is rebuilt from its stored rows of the other days,
    values and ``id`` kept, plus the day's new rows, so rerunning a day is
    idempotent; ``fact_rows`` counts the day's rows only. The touched week
    is recomputed from the stored fact, so the weekly MV runs after the
    fact's overwrite and only the dims overlap. This is the reference's
    TRUNCATE-reload cadence upgraded to the 100 TB posture promised above:
    a daily run costs one month of I/O, not the table.
    """
    t_run = time.perf_counter()
    seconds: dict[str, float] = {}
    fact_path = f"{warehouse_dir}/fact_movimentacao_diaria"
    weekly_path = f"{warehouse_dir}/volatility_weekly"

    # -- 1-3: locate + load staging (S1, S2, S4) ---------------------------
    with _timed(seconds, "staging"):
        staging = read_ohlcv_csv(spark, csv_path)
        if incremental_date is not None:
            staging = staging.filter(F.col("date") == F.lit(incremental_date))
        staging_path = f"{warehouse_dir}/staging"
        # the gate's aggregates ride the write, which reads every row anyway;
        # staging is unpartitioned, so they run in the write's only stage
        gate = Observation()
        overwrite_parquet(
            staging.observe(
                gate, *gate_columns(["close", "date"], expected_count=expected_count)
            ),
            staging_path,
        )
        # re-read: columnar, pruned
        staging = spark.read.schema(STAGING).parquet(staging_path)

    # -- 4: quality gate (A1, A2, P4, P5, C4) ------------------------------
    with _timed(seconds, "gate"):
        staged_rows = expect_passed(gate.get, gate_name="staging")["total_rows"]

    fact = None
    try:
        with _Branches(spark, seconds) as branches:
            # -- 5: dimensions (A8, F2-F4, F8, F9, S6/J3) ------------------
            branches.submit("dim_instrumento", lambda: append_if_absent(
                spark, build_dim_instrumento(staging, symbol_col="symbol"),
                f"{warehouse_dir}/dim_instrumento", ["ticker"],
            ))
            branches.submit("dim_tempo", lambda: append_if_absent(
                spark, build_dim_tempo(staging, date_col="date"),
                f"{warehouse_dir}/dim_tempo", ["data_id"],
            ))

            # -- 6: fact with %-change window (P1, W1, W2, F7) -------------
            with _timed(seconds, "fact"):
                fact = (
                    build_fact(staging)
                    if incremental_date is None
                    else _incremental_fact(
                        spark, staging, fact_path, incremental_date, lookback_days
                    )
                ).withColumn("ano", F.year("data_id")).withColumn("mes", F.month("data_id"))
                fact.cache()  # consumers below (SURVEY.md §4.3)
                # one fact row per staged row: build_fact projects and
                # windows, _incremental_fact left-joins one row per ticker
                fact_rows = staged_rows
                if incremental_date is None:
                    # -- 7: weekly volatility = MV refresh (F1, A3, S7) and
                    # its top-k, both from the cached fact
                    weekly = weekly_volatility(fact, key="ticker", ts="data_id")
                    branches.submit("weekly", lambda: overwrite_parquet(
                        weekly, weekly_path, partition_by=["week"]
                    ))
                    branches.submit("top_k", lambda: top_avg_volatility(
                        weekly, k=top_k
                    ).collect())
                    overwrite_parquet(fact, fact_path, partition_by=_FACT_PARTITIONS)
                else:
                    overwrite_partitions(
                        _month_with_day(spark, fact, fact_path, incremental_date),
                        fact_path,
                        partition_by=_FACT_PARTITIONS,
                    )

            if incremental_date is not None:
                # -- 7: recompute ONLY the touched week from the month
                # partitions of the fact just written that cover it
                with _timed(seconds, "weekly"):
                    wk0 = incremental_date - dt.timedelta(days=incremental_date.weekday())
                    wk6 = wk0 + dt.timedelta(days=6)
                    week_slice = _stored_months(spark, fact_path, wk0, wk6).filter(
                        F.col("data_id").between(wk0, wk6)
                    )
                    weekly_rows, top = _refresh_weekly(
                        spark, week_slice, weekly_path, top_k
                    )
        if incremental_date is None:
            weekly_rows, top = branches.result("weekly"), branches.result("top_k")

        # -- 8: report + charts (S9), before the fact cache is released ----
        if report_path or charts_dir:
            # the report is global: in incremental mode the in-memory `fact`
            # is one day, so read the full (freshly updated) table back
            report_fact = (
                fact
                if incremental_date is None
                else spark.read.schema(FACT_MOVIMENTACAO).parquet(fact_path)
            )
            if report_path:
                from .report import write_report

                write_report(report_fact, report_path, k=5)
            if charts_dir:
                from .charts import write_report_charts

                write_report_charts(report_fact, charts_dir, k=5)
    finally:
        if fact is not None:
            fact.unpersist()

    # -- 9: report message + log (O1, S8, F12, S10) ------------------------
    if not top:
        message = "Nenhum dado de volatilidade disponível."
    else:
        r = top[0]
        message = (
            f"Ativo mais volátil: {r['ticker']} "
            f"(volatilidade média semanal: {r['avg_volatility']:.2f}%)"
        )
    seconds["total"] = time.perf_counter() - t_run
    stage_seconds = {stage: seconds[stage] for stage in STAGES}
    log.info(
        "pipeline ok: staged=%s fact=%s weekly=%s %s | %s",
        staged_rows, fact_rows, weekly_rows,
        " ".join(f"{stage}_s={s:.3f}" for stage, s in stage_seconds.items()),
        message,
    )
    return PipelineResult(
        staged_rows=staged_rows,
        fact_rows=fact_rows,
        weekly_rows=weekly_rows,
        report_message=message,
        stage_seconds=stage_seconds,
    )
