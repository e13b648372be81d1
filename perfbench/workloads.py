"""The three workloads: what set-up builds, what one operation is, and how
its output is checked.

Every package function is called through its module attribute, so the
traced run's wrappers (installed by ``trace_targets``) see each call.
"""

from __future__ import annotations

import os
import random
import shutil

from airflow_etl_finance_market_spark.operators import markets
from airflow_etl_finance_market_spark.plans import analytics, pipeline, report, volatility
from pyspark.sql import functions as F

from oracle import ROUNDED_TOL, Oracle, close_enough, rows_match

FACT = "fact_movimentacao_diaria"
WEEKLY = "volatility_weekly"
STAR_PICKS = 8  # distinct (day) and (ticker, year) picks the read mix cycles through

# (name in plans.pipeline's namespace, layer, index of the path argument of a sink)
PIPELINE_CALLS = (
    ("read_ohlcv_csv", "sources.readers", None),
    ("overwrite_parquet", "sources.sinks", 1),
    ("overwrite_partitions", "sources.sinks", 1),
    ("append_if_absent", "sources.sinks", 2),
    ("quality_summary", "operators.quality", None),
    ("expect_passed", "operators.quality", None),
    ("build_dim_instrumento", "plans.dims", None),
    ("build_dim_tempo", "plans.dims", None),
    ("daily_pct_change", "plans.volatility", None),
    ("weekly_volatility", "plans.volatility", None),
    ("top_avg_volatility", "plans.volatility", None),
    ("run_pipeline", "plans.pipeline", None),
)


def trace_targets(tracer) -> None:
    for attr, layer, table_arg in PIPELINE_CALLS:
        tracer.wrap(pipeline, attr, layer, table_arg)


def _result_mismatches(got, want: dict, staged: int) -> list[str]:
    out = []
    if got.staged_rows != staged:
        out.append(f"staged_rows {got.staged_rows} != {staged}")
    for key, value in want.items():
        if getattr(got, key) != value:
            out.append(f"{key} {getattr(got, key)!r} != {value!r}")
    return out


class Workload:
    """Shared plumbing: ``ctx`` holds spark, tracer, inputs and paths."""

    name = ""
    warm_up_ops = 1  # operations run in set-up, after prepare

    def __init__(self, ctx):
        self.ctx = ctx
        self.spark = ctx.spark
        self.wh = ctx.warehouse

    def run_full(self, csv: str, rows: int):
        return pipeline.run_pipeline(self.spark, csv, self.wh, expected_count=rows)

    # set-up is prepare, the warm-up ops and after_warm_up; only op is timed
    def prepare(self) -> None:
        self.run_full(self.ctx.inputs.full_csv, self.ctx.inputs.rows)

    def after_warm_up(self) -> None:
        pass

    def expect(self) -> None:
        """Compute the DuckDB expectations (outside set-up and the timer)."""

    def before_op(self, i: int) -> None:
        pass

    def op(self, i: int):
        raise NotImplementedError

    def check(self, i: int, result) -> list[str]:
        return []

    def check_end(self) -> list[str]:
        return []

    def recover(self, i: int) -> None:
        pass

    def input_bytes(self, i: int) -> int:
        """CSV bytes operation ``i`` consumes."""
        return 0

    def stored_input_bytes(self) -> int:
        """Cumulative CSV bytes the warehouse holds at this point."""
        return self.ctx.inputs.sizes()["full_csv_bytes"]


class FullReload(Workload):
    name = "full_reload"

    def expect(self):
        self.oracle = Oracle([self.ctx.inputs.full_csv])
        self.want = self.oracle.pipeline_result()

    def op(self, i):
        return self.run_full(self.ctx.inputs.full_csv, self.ctx.inputs.rows)

    def check(self, i, result):
        return _result_mismatches(result, self.want, self.ctx.inputs.rows)

    def check_end(self):
        return self.oracle.warehouse_mismatches(self.wh)

    def input_bytes(self, i):
        return self.ctx.inputs.sizes()["full_csv_bytes"]


class DailyIncremental(Workload):
    """History loaded in set-up; each operation replays the next held-out
    day from its own CSV drop. After the last drop the warehouse snapshot
    is restored (outside the timer) and the replay starts over."""

    name = "daily_incremental"

    def prepare(self):
        inp = self.ctx.inputs
        self.run_full(inp.history_csv, inp.history_rows)
        self.snapshot = self.wh + ".snapshot"
        shutil.rmtree(self.snapshot, ignore_errors=True)
        shutil.copytree(self.wh, self.snapshot)
        self.step = 0  # next drop to replay

    def after_warm_up(self):
        self.restore()

    def restore(self):
        shutil.rmtree(self.wh)
        shutil.copytree(self.snapshot, self.wh)
        self.step = 0

    def expect(self):
        inp = self.ctx.inputs
        self.want = []
        for k in range(len(inp.drops)):
            oracle = Oracle([inp.history_csv] + [p for _, p in inp.drops[: k + 1]])
            self.want.append(oracle.pipeline_result())
            oracle.close()

    def before_op(self, i):
        if self.step == len(self.ctx.inputs.drops):
            self.restore()

    def op(self, i):
        day, csv = self.ctx.inputs.drops[self.step]
        self.step += 1
        return pipeline.run_pipeline(self.spark, csv, self.wh, incremental_date=day)

    def check(self, i, result):
        day_rows = len(self.ctx.inputs.tickers) - 1  # every ticker but the singleton
        want = dict(self.want[self.step - 1], fact_rows=day_rows)
        return _result_mismatches(result, want, day_rows)

    def recover(self, i):
        self.restore()

    def check_end(self):
        inp = self.ctx.inputs
        oracle = Oracle([inp.history_csv] + [p for _, p in inp.drops[: self.step]])
        try:
            return oracle.warehouse_mismatches(self.wh)
        finally:
            oracle.close()

    def input_bytes(self, i):
        return os.path.getsize(self.ctx.inputs.drops[self.step - 1][1])

    def stored_input_bytes(self):
        inp = self.ctx.inputs
        return inp.sizes()["history_csv_bytes"] + sum(
            os.path.getsize(p) for _, p in inp.drops[: self.step]
        )


class StarReads(Workload):
    """One operation is one pass over a fixed, seeded mix of read-only
    queries; each starts from ``spark.read.parquet`` and ends in a collect."""

    name = "star_reads"
    warm_up_ops = 2  # after one pass the first timed pass still ran ~15% slower

    def __init__(self, ctx):
        super().__init__(ctx)
        rng = random.Random(ctx.seed)
        inp = ctx.inputs
        years = sorted({d.year for d in inp.days})
        self.picks = [
            (rng.choice(inp.days), rng.choice(inp.tickers[:-1]), rng.choice(years))
            for _ in range(STAR_PICKS)
        ]

    def read(self, table):
        return self.spark.read.parquet(f"{self.wh}/{table}")

    def op(self, i):
        tr = self.ctx.tracer
        day, ticker, year = self.picks[i % STAR_PICKS]
        out = {}
        with tr.span("plans.report", "build_report"):
            out["report"] = report.build_report(self.read(FACT), k=5)
        with tr.span("plans.volatility", "top_avg_volatility"):
            out["top5"] = volatility.top_avg_volatility(self.read(WEEKLY), k=5).collect()
        with tr.span("plans.analytics", "ticker_metrics"):
            out["ticker_metrics"] = analytics.ticker_metrics(self.read(FACT)).collect()
        with tr.span("operators.markets", "max_drawdown"):
            out["max_drawdown"] = markets.max_drawdown(
                self.read(FACT), key="ticker", ts="data_id", price="close"
            ).collect()
        with tr.span("reads", "cross_section"):
            out["cross_section"] = (
                self.read(FACT).filter(F.col("data_id") == F.lit(day))
                .select("ticker", "close", "variacao_diaria").collect()
            )
        with tr.span("reads", "ticker_year"):
            out["ticker_year"] = (
                self.read(FACT)
                .filter((F.col("ticker") == ticker) & (F.col("ano") == year))
                .select("data_id", "close", "variacao_diaria").collect()
            )
        return out

    def expect(self):
        o = self.oracle = Oracle([self.ctx.inputs.full_csv])
        self.want = {
            "report": o.report_lines(5),
            "top5": o.top_volatility(5),
            "ticker_metrics": o.ticker_metrics(),
            "max_drawdown": o.max_drawdown(),
        }
        self.want_picks = [
            (o.cross_section(day), o.ticker_year(ticker, year))
            for day, ticker, year in self.picks
        ]

    def check(self, i, got):
        w = self.want
        out = []
        text = got["report"]
        out += [f"report lacks {line!r}" for line in w["report"] if line not in text]
        top5 = [tuple(r) for r in got["top5"]]
        if [t for t, _ in top5] != [t for t, _ in w["top5"]] or not all(
            close_enough(a, b) for (_, a), (_, b) in zip(top5, w["top5"])
        ):
            out.append(f"top5 {top5} != {w['top5']}")
        for name in ("ticker_metrics", "max_drawdown"):
            if not rows_match([tuple(r) for r in got[name]], w[name], ROUNDED_TOL):
                out.append(f"{name} differs")
        cross, year_rows = self.want_picks[i % STAR_PICKS]
        if not rows_match([tuple(r) for r in got["cross_section"]], cross):
            out.append("cross_section differs")
        if not rows_match([tuple(r) for r in got["ticker_year"]], year_rows):
            out.append("ticker_year differs")
        return out


WORKLOADS = {w.name: w for w in (FullReload, DailyIncremental, StarReads)}
