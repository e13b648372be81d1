"""DuckDB twins of the pipeline outputs and of the star-read queries.

Every expectation is computed from the input CSVs, never from the
warehouse under test; the warehouse is read back (by DuckDB, from its
parquet files) only to be compared. Nothing here runs inside a timed
operation.
"""

from __future__ import annotations

import datetime as dt
import math

import duckdb

_CSV_COLUMNS = (
    "{'date': 'DATE', 'symbol': 'VARCHAR', 'open': 'DOUBLE', 'high': 'DOUBLE',"
    " 'low': 'DOUBLE', 'close': 'DOUBLE', 'volume': 'BIGINT'}"
)
REL_TOL = 1e-9
ROUNDED_TOL = 2e-6  # values the queries round to 6 places


def _quote(paths: list[str]) -> str:
    return "[" + ", ".join("'" + p.replace("'", "''") + "'" for p in paths) + "]"


def close_enough(a, b, tol: float = REL_TOL) -> bool:
    if a is None or b is None:
        return a is None and b is None
    if isinstance(a, float) or isinstance(b, float):
        return math.isclose(a, b, rel_tol=tol, abs_tol=tol)
    return a == b


def rows_match(got: list[tuple], want: list[tuple], tol: float = REL_TOL) -> bool:
    return len(got) == len(want) and all(
        len(g) == len(w) and all(close_enough(x, y, tol) for x, y in zip(g, w))
        for g, w in zip(sorted(got, key=repr), sorted(want, key=repr))
    )


def top1_message(rows: list[tuple]) -> str:
    if not rows:
        return "Nenhum dado de volatilidade disponível."
    ticker, avg = rows[0]
    return f"Ativo mais volátil: {ticker} (volatilidade média semanal: {avg:.2f}%)"


class Oracle:
    """Expected fact/weekly tables over one set of CSVs, in one DuckDB."""

    def __init__(self, csvs: list[str]):
        self.con = duckdb.connect()
        self.con.execute(
            f"CREATE TABLE quotes AS SELECT * FROM read_csv({_quote(csvs)},"
            f" header = true, columns = {_CSV_COLUMNS})"
        )
        self.con.execute(
            """CREATE TABLE fact AS SELECT symbol AS ticker, date AS data_id,
                   close, volume,
                   (close - LAG(close) OVER w) / NULLIF(LAG(close) OVER w, 0) * 100
                       AS variacao_diaria
               FROM quotes WINDOW w AS (PARTITION BY symbol ORDER BY date)"""
        )
        self.con.execute(
            """CREATE TABLE weekly AS SELECT ticker,
                   CAST(date_trunc('week', data_id) AS DATE) AS week,
                   stddev_samp(variacao_diaria) AS vol
               FROM fact WHERE variacao_diaria IS NOT NULL GROUP BY 1, 2"""
        )

    def close(self) -> None:
        self.con.close()

    def q(self, sql: str, *params) -> list[tuple]:
        return self.con.execute(sql, list(params)).fetchall()

    # -- run_pipeline's returned values ------------------------------------
    def top_volatility(self, k: int) -> list[tuple]:
        return self.q(
            """SELECT ticker, avg(vol) AS a FROM weekly GROUP BY ticker
               ORDER BY a DESC NULLS LAST, ticker LIMIT ?""",
            k,
        )

    def pipeline_result(self) -> dict:
        return {
            "fact_rows": self.q("SELECT count(*) FROM fact")[0][0],
            "weekly_rows": self.q("SELECT count(*) FROM weekly")[0][0],
            "report_message": top1_message(self.top_volatility(1)),
        }

    # -- the tables the pipeline leaves in the warehouse ---------------------
    def warehouse_mismatches(self, warehouse: str) -> list[str]:
        """Full-table compare of the stored fact and weekly tables (which
        covers their row counts and the sums of variacao_diaria and vol)."""
        got_fact = self.q(
            f"""SELECT ticker, CAST(data_id AS DATE), close, variacao_diaria
                FROM read_parquet('{warehouse}/fact_movimentacao_diaria/*/*/*.parquet',
                                  hive_partitioning = true)"""
        )
        want_fact = self.q("SELECT ticker, data_id, close, variacao_diaria FROM fact")
        got_weekly = self.q(
            f"""SELECT ticker, CAST(week AS DATE), vol
                FROM read_parquet('{warehouse}/volatility_weekly/*/*.parquet',
                                  hive_partitioning = true)"""
        )
        want_weekly = self.q("SELECT ticker, week, vol FROM weekly")
        out = []
        if not rows_match(got_fact, want_fact):
            out.append(f"fact differs: {len(got_fact)} rows stored, {len(want_fact)} expected")
        if not rows_match(got_weekly, want_weekly):
            out.append(f"weekly differs: {len(got_weekly)} rows stored, {len(want_weekly)} expected")
        return out

    # -- star-read twins -----------------------------------------------------
    def report_lines(self, k: int = 5) -> list[str]:
        """Lines the executive report must contain, rendered from DuckDB."""
        (n, nt, nd, lo, hi, vol, chg, avg_vol, avg_close) = self.q(
            """SELECT count(*), count(DISTINCT ticker), count(DISTINCT data_id),
                      min(data_id), max(data_id),
                      round(stddev_samp(variacao_diaria), 6),
                      round(avg(variacao_diaria), 6), round(avg(volume), 2),
                      round(avg(close), 2)
               FROM fact"""
        )[0]
        lines = [
            f"PERÍODO ANALISADO: {lo} até {hi}",
            f"   • Total de registros analisados: {n:,}",
            f"   • Número de ações diferentes: {nt}",
            f"   • Dias de negociação: {nd}",
            f"   • Volatilidade média do mercado: {vol:.2f}%",
            f"   • Variação média diária geral: {chg:.2f}%",
            f"   • Volume médio diário: {avg_vol:,.0f} ações",
            f"   • Preço médio de fechamento: R$ {avg_close:.2f}",
        ]
        stats = """SELECT ticker, {e} AS v FROM fact GROUP BY ticker
                   HAVING v IS NOT NULL ORDER BY v DESC, ticker LIMIT ?"""
        for expr, fmt in (
            ("stddev_samp(variacao_diaria)", "{:.2f}% de volatilidade"),
            ("avg(variacao_diaria)", "{:+.2f}% de variação média diária"),
            ("CAST(sum(volume) AS DOUBLE)", "{:,.0f} ações negociadas"),
        ):
            for i, (t, v) in enumerate(self.q(stats.format(e=expr), k), 1):
                lines.append(f"{i}. {t}: " + fmt.format(v))
        return lines

    def ticker_metrics(self) -> list[tuple]:
        return self.q(
            """SELECT ticker, round(stddev_samp(variacao_diaria), 6),
                      round(avg(variacao_diaria), 6), round(max(variacao_diaria), 6),
                      round(min(variacao_diaria), 6), count(*)
               FROM fact WHERE variacao_diaria IS NOT NULL GROUP BY ticker"""
        )

    def max_drawdown(self) -> list[tuple]:
        return self.q(
            """SELECT ticker, round(min((close - peak) / peak), 6) FROM (
                   SELECT ticker, close, max(close) OVER (PARTITION BY ticker
                       ORDER BY data_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS peak FROM fact)
               GROUP BY ticker"""
        )

    def cross_section(self, day: dt.date) -> list[tuple]:
        return self.q(
            "SELECT ticker, close, variacao_diaria FROM fact WHERE data_id = ?", day
        )

    def ticker_year(self, ticker: str, year: int) -> list[tuple]:
        return self.q(
            """SELECT data_id, close, variacao_diaria FROM fact
               WHERE ticker = ? AND year(data_id) = ?""",
            ticker, year,
        )
