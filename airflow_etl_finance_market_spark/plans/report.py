"""Executive text report (SURVEY.md §2.1 S9).

The reference's exploratory notebook renders `relatorio_completo.txt`
(reference: analysis/análise_exploratória.ipynb → the `relatorio` cell and
its file-writing sibling): a header, a global summary, and three top-5
rankings — most volatile (stddev of daily change), best performance (mean
daily change), most traded (summed volume). The pandas version computes
three separate full-frame groupbys; here the summary and all three
rankings come from ONE aggregate, ``report_rows``: grouping sets over
(ticker), (day) and () — one Expand, one shuffle, one collect.

Scale shape: the collect returns |tickers| + |days| + 1 rows (about 2.8k at
the paper's 300 tickers × 2,500 days). The per-ticker rows feed every
ranking, sorted on the driver; the grand-total row is the summary; the day
rows are only counted. The charts (plans/charts.py) draw from the same
rows, so a run that writes both sinks aggregates the fact once. The text
rendering is pure driver-side string work.
"""

from __future__ import annotations

import math
from collections.abc import Mapping
from dataclasses import dataclass
from typing import Any

from pyspark.sql import Column, DataFrame, Row
from pyspark.sql import functions as F

_BAR = "═" * 83
# grouping_id() of each grouping set of report_rows over (ticker, day): a
# bit is set for each key the set aggregates away
_TICKER_SET, _DAY_SET, _TOTAL_SET = 1, 2, 3


def _ticker_columns(change: str, volume: str) -> list[Column]:
    """The aggregates of one instrument: volatility (stddev of daily
    change), mean daily change, total volume."""
    return [
        F.stddev_samp(change).alias("volatility"),
        F.avg(change).alias("mean_change"),
        F.sum(volume).cast("double").alias("total_volume"),
    ]


def _overview_columns(ts: str, close: str, change: str, volume: str) -> list[Column]:
    """The global summary's aggregates, all but its two distinct counts."""
    return [
        F.count(F.lit(1)).alias("total_rows"),
        F.min(ts).alias("first_day"),
        F.max(ts).alias("last_day"),
        F.round(F.stddev_samp(change), 6).alias("market_volatility"),
        F.round(F.avg(change), 6).alias("mean_daily_change"),
        F.round(F.avg(volume), 2).alias("avg_volume"),
        F.round(F.avg(close), 2).alias("avg_close"),
    ]


def ticker_stats(
    fact: DataFrame,
    *,
    key: str = "ticker",
    change: str = "variacao_diaria",
    volume: str = "volume",
) -> DataFrame:
    """Per-instrument stats for every ranking in the report, one pass:
    volatility (stddev of daily change), mean daily change, total volume.
    """
    return fact.groupBy(F.col(key).alias("ticker")).agg(*_ticker_columns(change, volume))


def market_overview(
    fact: DataFrame,
    *,
    key: str = "ticker",
    ts: str = "data_id",
    close: str = "close",
    change: str = "variacao_diaria",
    volume: str = "volume",
) -> DataFrame:
    """One-row global summary: the notebook's "RESUMO GERAL" numbers.

    A single aggregate over a column-pruned scan; the two COUNT DISTINCTs
    plan as one Expand + hash aggregate, still a single pass over the data.
    """
    total_rows, *rest = _overview_columns(ts, close, change, volume)
    return fact.agg(
        total_rows,
        F.countDistinct(key).alias("n_tickers"),
        F.countDistinct(ts).alias("n_days"),
        *rest,
    )


def ranked(tickers: list[Row], metric: str, k: int) -> list[Row]:
    """The first ``k`` of ``tickers`` in the order of Spark's
    ``orderBy(desc_nulls_last(metric), asc("ticker"))``: NaN above every
    number, -0.0 equal to 0.0, NULL metrics last, ties by ticker with a
    NULL ticker first. The report and the charts rank by it."""

    def key(r: Row):
        v, t = r[metric], r["ticker"]
        tie = (t is not None, t or "")
        if v is None:
            return (2, 0.0, tie)
        if math.isnan(v):
            return (0, 0.0, tie)
        return (1, -v, tie)

    return sorted(tickers, key=key)[:k]


@dataclass(frozen=True)
class ReportRows:
    """The collected aggregate that the report and its charts render.

    ``overview`` maps each column of ``market_overview`` to its value;
    ``tickers`` holds the rows of ``ticker_stats``, in no order.
    """

    overview: Mapping[str, Any]
    tickers: list[Row]


def report_rows(
    fact: DataFrame,
    *,
    ts: str = "data_id",
    close: str = "close",
    change: str = "variacao_diaria",
    volume: str = "volume",
) -> ReportRows:
    """``market_overview`` and ``ticker_stats`` from one aggregate.

    Grouping sets over (ticker), (``ts``) and (): the ticker rows carry the
    ranking stats, the grand-total row the summary, and the distinct
    tickers and days are counted as the non-NULL keys of their sets, so no
    COUNT DISTINCT runs. Raises ValueError on an empty ``fact``, which has
    no grand-total row to report.
    """
    ticker, day = F.col("ticker"), F.col(ts)
    rows = (
        fact.groupingSets([[ticker], [day], []], ticker, day)
        .agg(
            F.grouping_id().alias("grouping_set"),
            F.struct(*_ticker_columns(change, volume)).alias("stats"),
            F.struct(*_overview_columns(ts, close, change, volume)).alias("overview"),
        )
        .collect()
    )
    by_set: dict[int, list[Row]] = {_TICKER_SET: [], _DAY_SET: [], _TOTAL_SET: []}
    for r in rows:
        by_set[r["grouping_set"]].append(r)
    if not by_set[_TOTAL_SET]:
        raise ValueError("report_rows: the fact has no rows")
    overview = by_set[_TOTAL_SET][0]["overview"].asDict()
    overview["n_tickers"] = sum(r["ticker"] is not None for r in by_set[_TICKER_SET])
    overview["n_days"] = sum(r[ts] is not None for r in by_set[_DAY_SET])
    tickers = [Row(ticker=r["ticker"], **r["stats"].asDict()) for r in by_set[_TICKER_SET]]
    return ReportRows(overview, tickers)


def _section(title: str, blurb: str) -> str:
    return f"\n{_BAR}\n{title}\n{_BAR}\n\n{blurb}\n"


def build_report(
    fact: DataFrame,
    *,
    k: int = 5,
    generated_at: str | None = None,
    change: str = "variacao_diaria",
    volume: str = "volume",
    close: str = "close",
    ts: str = "data_id",
) -> str:
    """Render the full text report from one ``report_rows`` collect."""
    rows = report_rows(fact, ts=ts, close=close, change=change, volume=volume)
    return render_report(rows, k=k, generated_at=generated_at)


def render_report(rows: ReportRows, *, k: int = 5, generated_at: str | None = None) -> str:
    """The text report of ``rows``, with top-``k`` rankings.

    ``generated_at`` is caller-supplied (or omitted) so the output is a
    deterministic function of the data — the notebook's wall-clock
    timestamp line made its artifact unreproducible.
    """
    ov = rows.overview
    top_vol = ranked(rows.tickers, "volatility", k)
    top_perf = ranked(rows.tickers, "mean_change", k)
    top_volume = ranked(rows.tickers, "total_volume", k)

    head = [
        "╔" + "═" * 80 + "╗",
        "║" + "RELATÓRIO EXECUTIVO".center(80) + "║",
        "║" + "ANÁLISE COMPLETA DE MERCADO FINANCEIRO".center(80) + "║",
        "╚" + "═" * 80 + "╝",
        "",
    ]
    if generated_at is not None:
        head.append(f"DATA DE GERAÇÃO: {generated_at}")
    head.append(f"PERÍODO ANALISADO: {ov['first_day']} até {ov['last_day']}")
    out = "\n".join(head)

    out += _section(
        "1. RESUMO GERAL DOS DADOS",
        "\n".join(
            [
                f"   • Total de registros analisados: {ov['total_rows']:,}",
                f"   • Número de ações diferentes: {ov['n_tickers']}",
                f"   • Dias de negociação: {ov['n_days']}",
                f"   • Volatilidade média do mercado: {ov['market_volatility']:.2f}%",
                f"   • Variação média diária geral: {ov['mean_daily_change']:.2f}%",
                f"   • Volume médio diário: {ov['avg_volume']:,.0f} ações",
                f"   • Preço médio de fechamento: R$ {ov['avg_close']:.2f}",
            ]
        ),
    )
    out += _section(
        f"2. TOP {k} AÇÕES MAIS VOLÁTEIS (MAIOR RISCO)",
        "\n".join(
            f"{i}. {r['ticker']}: {r['volatility']:.2f}% de volatilidade"
            for i, r in enumerate(top_vol, 1)
            if r["volatility"] is not None
        ),
    )
    out += _section(
        f"3. TOP {k} AÇÕES COM MELHOR PERFORMANCE (MAIOR RETORNO)",
        "\n".join(
            f"{i}. {r['ticker']}: {r['mean_change']:+.2f}% de variação média diária"
            for i, r in enumerate(top_perf, 1)
            if r["mean_change"] is not None
        ),
    )
    out += _section(
        f"4. TOP {k} AÇÕES MAIS NEGOCIADAS (MAIOR LIQUIDEZ)",
        "\n".join(
            f"{i}. {r['ticker']}: {r['total_volume']:,.0f} ações negociadas"
            for i, r in enumerate(top_volume, 1)
            if r["total_volume"] is not None
        ),
    )
    out += f"\n{_BAR}\nFIM DO RELATÓRIO\n{_BAR}\n"
    return out


def write_report(rows: ReportRows, path: str, **kwargs) -> str:
    """Write the report of ``rows`` to ``path`` (driver-local file, S9) and
    return the text; ``kwargs`` go to ``render_report``."""
    text = render_report(rows, **kwargs)
    with open(path, "w", encoding="utf-8") as fh:
        fh.write(text)
    return text
