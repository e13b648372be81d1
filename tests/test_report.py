"""Executive report (plans/report.py, S9): deterministic rendering, correct
rankings, and the pipeline writes the file when asked."""

from __future__ import annotations

import datetime as dt

from airflow_etl_finance_market_spark.plans.report import (
    build_report,
    ticker_stats,
    write_report,
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
    return spark.createDataFrame(
        rows,
        "ticker string, data_id date, close double, volume double, "
        "variacao_diaria double",
    )


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
    text = write_report(_fact(spark), str(p), k=2)
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
    paths = write_report_charts(_fact(spark), str(out), k=2)
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

    a = write_report_charts(_fact(spark), str(tmp_path / "a"), k=3)
    b = write_report_charts(
        _fact(spark).repartition(5), str(tmp_path / "b"), k=3
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
        [("AAA", dt.date(2024, 1, 1), 10.0, 100.0, None)],
        "ticker string, data_id date, close double, volume double, "
        "variacao_diaria double",
    )
    paths = write_report_charts(one_row_each, str(tmp_path / "o"), k=2)
    for p in paths.values():
        meta = read_png_meta(p)
        assert int(meta["width"]) > 0


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
