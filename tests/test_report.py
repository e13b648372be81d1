"""Executive report (plans/report.py, S9): deterministic rendering, correct
rankings, and the pipeline writes the file when asked."""

from __future__ import annotations

import datetime as dt
import hashlib

import pytest
from pyspark.sql import functions as F

from airflow_etl_finance_market_spark.plans.report import (
    build_report,
    market_overview,
    ranked,
    report_rows,
    ticker_stats,
    write_report,
)

_SCHEMA = (
    "ticker string, data_id date, close double, volume double, "
    "variacao_diaria double"
)


def _fact(spark):
    rows = [
        # ticker, data_id, close, volume, variacao_diaria
        ("AAA", dt.date(2024, 1, 1), 10.0, 100.0, None),
        ("AAA", dt.date(2024, 1, 2), 11.0, 100.0, 10.0),
        ("AAA", dt.date(2024, 1, 3), 9.9, 100.0, -10.0),
        ("BBB", dt.date(2024, 1, 1), 20.0, 900.0, None),
        ("BBB", dt.date(2024, 1, 2), 20.2, 900.0, 1.0),
        ("BBB", dt.date(2024, 1, 3), 20.4, 900.0, 1.0),
        ("CCC", dt.date(2024, 1, 1), 30.0, 50.0, None),
        ("CCC", dt.date(2024, 1, 2), 31.5, 50.0, 5.0),
        ("CCC", dt.date(2024, 1, 3), 33.1, 50.0, 5.0),
    ]
    return spark.createDataFrame(rows, _SCHEMA)


def test_ticker_stats_one_pass_values(spark):
    st = {r["ticker"]: r for r in ticker_stats(_fact(spark)).collect()}
    # AAA: stddev_samp(10, -10) ≈ 14.14 — most volatile
    assert abs(st["AAA"]["volatility"] - 14.142135623730951) < 1e-9
    assert st["BBB"]["volatility"] == 0.0
    # CCC: mean +5.0 — best performance; BBB: 2700 volume — most traded
    assert st["CCC"]["mean_change"] == 5.0
    assert st["BBB"]["total_volume"] == 2700.0


def test_report_sections_and_rankings(spark):
    text = build_report(_fact(spark), k=2)
    assert "RELATÓRIO EXECUTIVO" in text
    assert "PERÍODO ANALISADO: 2024-01-01 até 2024-01-03" in text
    assert "Total de registros analisados: 9" in text
    assert "Número de ações diferentes: 3" in text
    assert "Dias de negociação: 3" in text
    # ranking order inside each section
    vol = text.split("MAIS VOLÁTEIS")[1].split("MELHOR PERFORMANCE")[0]
    # BBB and CCC tie at 0 volatility → ticker-asc tiebreak puts BBB second
    assert vol.index("1. AAA") < vol.index("2. BBB")
    perf = text.split("MELHOR PERFORMANCE")[1].split("MAIS NEGOCIADAS")[0]
    assert perf.index("1. CCC") < perf.index("2. BBB")
    liq = text.split("MAIS NEGOCIADAS")[1]
    assert liq.index("1. BBB") < liq.index("2. AAA")


def test_report_deterministic(spark):
    fact = _fact(spark)
    a = build_report(fact, k=3, generated_at="2024-06-01")
    b = build_report(fact.repartition(7), k=3, generated_at="2024-06-01")
    assert a == b
    assert "DATA DE GERAÇÃO: 2024-06-01" in a


def test_write_report_roundtrip(spark, tmp_path):
    p = tmp_path / "relatorio_completo.txt"
    text = write_report(report_rows(_fact(spark)), str(p), k=2)
    assert p.read_text(encoding="utf-8") == text
    assert "FIM DO RELATÓRIO" in text


def test_write_report_charts(spark, tmp_path):
    """S9 PNG chart sinks: the notebook's four figures, rendered without
    matplotlib, with content pinned via tEXt metadata."""
    from airflow_etl_finance_market_spark.plans.charts import (
        decode_png,
        read_png_meta,
        write_report_charts,
    )

    out = tmp_path / "outputs"
    paths = write_report_charts(report_rows(_fact(spark)), str(out), k=2)
    assert set(paths) == {"volatility", "performance", "volume", "risk_return"}
    for p in paths.values():
        meta = read_png_meta(p)
        assert int(meta["width"]) > 0 and int(meta["height"]) > 0
        with open(p, "rb") as fh:
            w, h, ch, pix = decode_png(fh.read())
        assert (str(w), str(h), ch) == (meta["width"], meta["height"], 3)
        assert len(set(pix)) > 1  # something drawn on the background

    # chart CONTENT: rankings and values match the data, not just existence
    vol = read_png_meta(paths["volatility"])
    assert vol["series"].startswith("AAA=14.14")  # stddev_samp(10,-10)
    perf = read_png_meta(paths["performance"])
    assert perf["series"].startswith("CCC=5.0")
    liq = read_png_meta(paths["volume"])
    assert liq["series"].split(";")[0].startswith("BBB=")
    scat = read_png_meta(paths["risk_return"])
    assert "BBB=(0.0," in scat["series"]  # zero-volatility ticker present


def test_charts_deterministic(spark, tmp_path):
    from airflow_etl_finance_market_spark.plans.charts import write_report_charts

    a = write_report_charts(report_rows(_fact(spark)), str(tmp_path / "a"), k=3)
    b = write_report_charts(
        report_rows(_fact(spark).repartition(5)), str(tmp_path / "b"), k=3
    )
    for key in a:
        assert open(a[key], "rb").read() == open(b[key], "rb").read()


def test_charts_handle_all_null_metric(spark, tmp_path):
    """A fact slice where every stddev is NULL (single row per ticker) must
    still produce all four files — axes-only charts, not a crash."""
    from airflow_etl_finance_market_spark.plans.charts import (
        read_png_meta,
        write_report_charts,
    )

    one_row_each = spark.createDataFrame(
        [("AAA", dt.date(2024, 1, 1), 10.0, 100.0, None)], _SCHEMA
    )
    paths = write_report_charts(report_rows(one_row_each), str(tmp_path / "o"), k=2)
    for p in paths.values():
        meta = read_png_meta(p)
        assert int(meta["width"]) > 0


# k=7 over 6 tickers: EEE has one change (NULL stddev_samp), FFF has none
# (NULL stddev and mean); BBB/CCC tie on volatility, BBB/DDD on mean change
# and on volume, AAA/FFF on volume
_GOLDEN_ROWS = [
    ("AAA", dt.date(2024, 1, 1), 10.0, 100.0, None),
    ("AAA", dt.date(2024, 1, 2), 11.0, 100.0, 10.0),
    ("AAA", dt.date(2024, 1, 3), 9.9, 100.0, -10.0),
    ("BBB", dt.date(2024, 1, 1), 20.0, 900.0, None),
    ("BBB", dt.date(2024, 1, 2), 20.2, 900.0, 1.0),
    ("BBB", dt.date(2024, 1, 3), 20.4, 900.0, 1.0),
    ("CCC", dt.date(2024, 1, 1), 30.0, 50.0, None),
    ("CCC", dt.date(2024, 1, 2), 31.5, 50.0, 5.0),
    ("CCC", dt.date(2024, 1, 3), 33.1, 50.0, 5.0),
    ("DDD", dt.date(2024, 1, 1), 40.0, 900.0, None),
    ("DDD", dt.date(2024, 1, 2), 40.8, 900.0, 2.0),
    ("DDD", dt.date(2024, 1, 3), 40.8, 900.0, 0.0),
    ("EEE", dt.date(2024, 1, 2), 50.0, 100.0, None),
    ("EEE", dt.date(2024, 1, 3), 51.5, 100.0, 3.0),
    ("FFF", dt.date(2024, 1, 3), 60.0, 300.0, None),
]

# rendered by the eight-job build_report (one query per ranking, two COUNT
# DISTINCTs) that report_rows replaced
GOLDEN_REPORT = """\
╔════════════════════════════════════════════════════════════════════════════════╗
║                              RELATÓRIO EXECUTIVO                               ║
║                     ANÁLISE COMPLETA DE MERCADO FINANCEIRO                     ║
╚════════════════════════════════════════════════════════════════════════════════╝

DATA DE GERAÇÃO: 2024-06-01
PERÍODO ANALISADO: 2024-01-01 até 2024-01-03
═══════════════════════════════════════════════════════════════════════════════════
1. RESUMO GERAL DOS DADOS
═══════════════════════════════════════════════════════════════════════════════════

   • Total de registros analisados: 15
   • Número de ações diferentes: 6
   • Dias de negociação: 3
   • Volatilidade média do mercado: 5.40%
   • Variação média diária geral: 1.89%
   • Volume médio diário: 423 ações
   • Preço médio de fechamento: R$ 31.28

═══════════════════════════════════════════════════════════════════════════════════
2. TOP 7 AÇÕES MAIS VOLÁTEIS (MAIOR RISCO)
═══════════════════════════════════════════════════════════════════════════════════

1. AAA: 14.14% de volatilidade
2. DDD: 1.41% de volatilidade
3. BBB: 0.00% de volatilidade
4. CCC: 0.00% de volatilidade

═══════════════════════════════════════════════════════════════════════════════════
3. TOP 7 AÇÕES COM MELHOR PERFORMANCE (MAIOR RETORNO)
═══════════════════════════════════════════════════════════════════════════════════

1. CCC: +5.00% de variação média diária
2. EEE: +3.00% de variação média diária
3. BBB: +1.00% de variação média diária
4. DDD: +1.00% de variação média diária
5. AAA: +0.00% de variação média diária

═══════════════════════════════════════════════════════════════════════════════════
4. TOP 7 AÇÕES MAIS NEGOCIADAS (MAIOR LIQUIDEZ)
═══════════════════════════════════════════════════════════════════════════════════

1. BBB: 2,700 ações negociadas
2. DDD: 2,700 ações negociadas
3. AAA: 300 ações negociadas
4. FFF: 300 ações negociadas
5. EEE: 200 ações negociadas
6. CCC: 150 ações negociadas

═══════════════════════════════════════════════════════════════════════════════════
FIM DO RELATÓRIO
═══════════════════════════════════════════════════════════════════════════════════
"""


def test_report_golden_text(spark):
    """NULL stats drop out of their ranking but keep their slot in the
    top-k, ties go to the smaller ticker, and a k past the ranked tickers
    lists them all."""
    fact = spark.createDataFrame(_GOLDEN_ROWS, _SCHEMA)
    assert build_report(fact, k=7, generated_at="2024-06-01") == GOLDEN_REPORT


def test_build_report_job_count(spark, job_group):
    """The report is one grouping-sets aggregate collected once: a map job
    and a result job (8 jobs when the overview and the three rankings
    were queries of their own)."""
    fact = _fact(spark)
    with job_group("build-report") as tracker:
        build_report(fact, k=2)
    assert len(tracker.getJobIdsForGroup("build-report")) == 2


def test_report_rows_match_gated_aggregates(spark):
    """The one-pass rows hold exactly what the registry-gated
    ``market_overview`` and ``ticker_stats`` compute."""
    fact = spark.createDataFrame(_GOLDEN_ROWS, _SCHEMA)
    rows = report_rows(fact)
    assert rows.overview == market_overview(fact).collect()[0].asDict()
    key = lambda r: r["ticker"]  # noqa: E731
    assert sorted(rows.tickers, key=key) == sorted(ticker_stats(fact).collect(), key=key)


def test_report_rows_reject_empty_fact(spark):
    with pytest.raises(ValueError, match="no rows"):
        report_rows(spark.createDataFrame([], _SCHEMA))


def test_ranked_matches_spark_order(spark):
    """The driver-side ranking replays Spark's ``orderBy(desc_nulls_last,
    asc(ticker))``: NaN first, -0.0 tied with 0.0, NULL metrics last and a
    NULL ticker before the others."""
    nan = float("nan")
    stats = spark.createDataFrame(
        [
            ("A", 1.0, -0.0), ("B", nan, 0.0), ("C", None, 2.0), ("D", 1.0, None),
            (None, 1.0, 0.0), ("E", nan, nan), ("F", -3.0, 0.0),
        ],
        "ticker string, x double, y double",
    )
    rows = stats.collect()
    for metric in ("x", "y"):
        for k in (3, 10):
            want = stats.orderBy(F.desc_nulls_last(metric), F.asc("ticker")).limit(k)
            assert [r["ticker"] for r in ranked(rows, metric, k)] == [
                r["ticker"] for r in want.collect()
            ], (metric, k)


def test_chart_png_bytes_pinned(spark, tmp_path):
    """The four PNGs, byte for byte, as the per-chart queries drew them
    before the charts took their rows from ``report_rows``."""
    from airflow_etl_finance_market_spark.plans.charts import write_report_charts

    paths = write_report_charts(report_rows(_fact(spark)), str(tmp_path), k=2)
    md5 = {key: hashlib.md5(open(p, "rb").read()).hexdigest() for key, p in paths.items()}
    assert md5 == {
        "volatility": "45b17a997d9b54605e289d085d57809b",
        "performance": "7fe16dffac801877ec0adb23ca6a79b6",
        "volume": "5145e008d7f8d11e97f545c7b25f3c8b",
        "risk_return": "7245bccc7607c4994ad888f16c7dd43c",
    }


def test_scatter_png_pinned_with_many_overlapping_points(tmp_path):
    """301 seeded points, most discs overlapping: the scatter's bytes as
    the full-canvas mask drew them, before each disc was drawn over its
    own bounding box."""
    import random

    from airflow_etl_finance_market_spark.plans.charts import render_scatter_png

    rng = random.Random(1)
    points = [
        (f"T{i:03d}", rng.uniform(0.5, 4.0), rng.uniform(-30.0, 40.0),
         rng.uniform(1e3, 1e6))
        for i in range(301)
    ]
    path = str(tmp_path / "scatter.png")
    render_scatter_png(points, path, title="Risk x return")
    md5 = hashlib.md5(open(path, "rb").read()).hexdigest()
    assert md5 == "0cd6011ced57e8dce991c497627f1569"


def test_encode_png_decodes_to_its_pixels():
    """The chart encoder's PNG read back with the stdlib alone: every
    chunk's CRC holds, and the inflated IDAT is exactly the filter-0
    scanlines of the input pixels (``read_png_meta`` reads only IHDR and
    tEXt, so this is the one check on the pixel data)."""
    import struct
    import zlib

    import numpy as np

    from airflow_etl_finance_market_spark.plans.charts import encode_png

    rgb = np.random.default_rng(7).integers(0, 256, (6, 7, 3), np.uint8)
    rgb[2, 3] = [1, 2, 3]
    png = encode_png(rgb, text_meta={"title": "t"})
    assert png[:8] == b"\x89PNG\r\n\x1a\n"
    chunks, pos = [], 8
    while pos < len(png):
        (n,) = struct.unpack(">I", png[pos : pos + 4])
        tag, payload = png[pos + 4 : pos + 8], png[pos + 8 : pos + 8 + n]
        (crc,) = struct.unpack(">I", png[pos + 8 + n : pos + 12 + n])
        assert crc == zlib.crc32(tag + payload), tag
        chunks.append((tag, payload))
        pos += 12 + n
    assert pos == len(png)
    assert [t for t, _ in chunks] == [b"IHDR", b"tEXt", b"IDAT", b"IEND"]
    # 7 wide, 6 high, 8-bit truecolor, deflate, filter method 0, no interlace
    assert chunks[0][1] == struct.pack(">IIBBBBB", 7, 6, 8, 2, 0, 0, 0)
    assert chunks[1][1] == b"title\x00t"
    raw = zlib.decompress(b"".join(p for t, p in chunks if t == b"IDAT"))
    assert raw == b"".join(b"\x00" + row.tobytes() for row in rgb)


class TestRealPngCodec:
    """The stdlib PNG codec that stays with the report charts
    (``plans/charts``): ``encode_png`` writes, ``decode_png`` reads the
    pixels back with a full scanline unfilter."""

    def test_roundtrip_all_channel_counts(self):
        import numpy as np

        from airflow_etl_finance_market_spark.plans.charts import (
            decode_png,
            encode_png,
        )

        rng = np.random.default_rng(3)
        for ch in (1, 3, 4):
            w, h = 5, 4
            pix = rng.integers(0, 256, (h, w, ch), np.uint8)
            assert decode_png(encode_png(pix)) == (w, h, ch, pix.tobytes())

    def test_unfilters_every_filter_type(self):
        """Hand-filter one row with each of the spec's 5 filter types and
        check reconstruction against the unfiltered reference — a real
        decoder property no header sniff can fake."""
        import random
        import struct
        import zlib

        from airflow_etl_finance_market_spark.plans.charts import decode_png

        w, h, ch = 4, 5, 3
        rng = random.Random(9)
        pix = [
            [rng.randrange(256) for _ in range(w * ch)] for _ in range(h)
        ]

        def filt(y, ftype):
            cur = pix[y]
            prev = pix[y - 1] if y else [0] * (w * ch)
            out = [ftype]
            for i, x in enumerate(cur):
                a = cur[i - ch] if i >= ch else 0
                b_ = prev[i]
                c = prev[i - ch] if i >= ch else 0
                if ftype == 0:
                    out.append(x)
                elif ftype == 1:
                    out.append((x - a) & 255)
                elif ftype == 2:
                    out.append((x - b_) & 255)
                elif ftype == 3:
                    out.append((x - (a + b_) // 2) & 255)
                else:
                    p = a + b_ - c
                    pa, pb, pc = abs(p - a), abs(p - b_), abs(p - c)
                    pr = a if pa <= pb and pa <= pc else (b_ if pb <= pc else c)
                    out.append((x - pr) & 255)
            return bytes(out)

        raw = b"".join(filt(y, y % 5) for y in range(h))

        def chunk(t, d):
            body = t + d
            return (
                struct.pack(">I", len(d))
                + body
                + struct.pack(">I", zlib.crc32(body))
            )

        ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
        png = (
            b"\x89PNG\r\n\x1a\n"
            + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(raw))
            + chunk(b"IEND", b"")
        )
        flat = bytes(v for row in pix for v in row)
        assert decode_png(png) == (w, h, ch, flat)

    def test_decodes_charts_encoder_output(self):
        """The chart encoder's PNGs read back pixel-exact (tEXt chunks
        and all get skipped properly)."""
        import numpy as np

        from airflow_etl_finance_market_spark.plans.charts import (
            decode_png,
            encode_png,
        )

        rgb = np.zeros((6, 7, 3), np.uint8)
        rgb[..., 0] = 10
        rgb[2, 3] = [1, 2, 3]
        b = encode_png(rgb, text_meta={"title": "t"})
        assert decode_png(b) == (7, 6, 3, rgb.tobytes())

    def test_truncated_idat_raises_value_error(self):
        """A truncated-but-VALID-ZLIB IDAT (a writer that lost rows) must
        raise ValueError, not escape as IndexError from the unfilter
        loop."""
        import struct
        import zlib

        import numpy as np
        import pytest

        from airflow_etl_finance_market_spark.plans.charts import (
            decode_png,
            encode_png,
        )

        def chunk(typ: bytes, data: bytes) -> bytes:
            return (
                struct.pack(">I", len(data))
                + typ
                + data
                + struct.pack(">I", zlib.crc32(typ + data) & 0xFFFFFFFF)
            )

        w, h, ch = 4, 4, 3
        good = encode_png(np.zeros((h, w, ch), np.uint8))
        ihdr = good[16:29]  # reuse the real 13-byte IHDR payload
        short_raw = bytes(3 * (w * ch + 1))  # 3 of the 4 declared rows
        bad = (
            good[:8]
            + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(short_raw))
            + chunk(b"IEND", b"")
        )
        with pytest.raises(ValueError, match="truncated PNG pixel data"):
            decode_png(bad)
