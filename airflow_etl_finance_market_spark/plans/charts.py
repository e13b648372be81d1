"""PNG chart sinks (SURVEY.md §2.1 S9 — the notebook's four figures).

The reference notebook writes four matplotlib figures to ``outputs/``
(reference: analysis/análise_exploratória.ipynb cells ab25759c, 6756719b,
5eff9371, 805fec87): three top-5 bar charts — volatility, mean daily
change, total volume — and a risk/return scatter (x = volatility, y = mean
change, point size ∝ volume, color by return, dashed mean reference
lines). matplotlib is not a declared dependency of this engine, so the
renders here are self-contained: a stdlib PNG encoder (``zlib`` +
``struct``) over a numpy RGB canvas, with a 3x5 bitmap font for titles and
labels. Each file also carries machine-readable ``tEXt`` chunks (title +
the exact label=value series) so tests — and any downstream consumer —
can assert chart CONTENT, not just existence.

Scale shape: identical to the text report (plans/report.py). All chart
data comes from the same one-pass ``report_rows`` collect: the three bar
charts take the report's top-k rankings, and the scatter takes up to
``max_points`` complete ticker rows by top volume, ranked on the driver.
Rendering is pure driver-side numpy on those rows.
"""

from __future__ import annotations

import math
import struct
import zlib

import numpy as np

from .report import ReportRows, ranked

# --------------------------------------------------------------------------
# Minimal PNG writer and reader (stdlib only)
# --------------------------------------------------------------------------

_PNG_SIG = b"\x89PNG\r\n\x1a\n"
# channels per pixel -> PNG color type (greyscale, truecolor, RGBA)
_COLOR_TYPE = {1: 0, 3: 2, 4: 6}


def _chunk(tag: bytes, payload: bytes) -> bytes:
    return (
        struct.pack(">I", len(payload))
        + tag
        + payload
        + struct.pack(">I", zlib.crc32(tag + payload) & 0xFFFFFFFF)
    )


def encode_png(rgb: np.ndarray, text_meta: dict[str, str] | None = None) -> bytes:
    """Encode an (H, W, C) uint8 array as a PNG byte string.

    C is 3 for the charts (truecolor); 1 (greyscale) and 4 (RGBA) map to
    PNG color types 0 and 6. 8-bit, filter 0 scanlines, one IDAT — the
    simplest valid encoding; every PNG reader accepts it. ``text_meta``
    becomes tEXt chunks (latin-1, the PNG spec's encoding for tEXt).
    """
    h, w, ch = rgb.shape
    ihdr = struct.pack(">IIBBBBB", w, h, 8, _COLOR_TYPE[ch], 0, 0, 0)
    raw = np.concatenate(
        [np.zeros((h, 1), dtype=np.uint8), rgb.reshape(h, w * ch)], axis=1
    ).tobytes()
    out = [_PNG_SIG, _chunk(b"IHDR", ihdr)]
    for key, val in (text_meta or {}).items():
        out.append(
            _chunk(
                b"tEXt",
                key.encode("latin-1")[:79] + b"\x00" + val.encode("latin-1"),
            )
        )
    out.append(_chunk(b"IDAT", zlib.compress(raw, 6)))
    out.append(_chunk(b"IEND", b""))
    return b"".join(out)


def decode_png(data: bytes) -> tuple[int, int, int, bytes]:
    """Read a PNG's pixels back: ``(width, height, channels, row-major
    bytes)`` (test hook, the pixel counterpart of :func:`read_png_meta`).

    Covers what :func:`encode_png` writes and a little more: 8-bit
    greyscale/RGB/RGBA, non-interlaced, any number of IDAT chunks, all
    five scanline filters. Other formats, and pixel data shorter than
    the header declares, raise ValueError.
    """
    if data[:8] != _PNG_SIG:
        raise ValueError("not a PNG")
    pos, idat, ihdr = 8, [], None
    while pos + 8 <= len(data):
        (ln,) = struct.unpack(">I", data[pos : pos + 4])
        tag = data[pos + 4 : pos + 8]
        if tag == b"IHDR":
            ihdr = struct.unpack(">IIBBBBB", data[pos + 8 : pos + 21])
        elif tag == b"IDAT":
            idat.append(data[pos + 8 : pos + 8 + ln])
        elif tag == b"IEND":
            break
        pos += 12 + ln
    if ihdr is None:
        raise ValueError("PNG has no IHDR")
    w, h, depth, ctype, _, _, interlace = ihdr
    ch = {v: k for k, v in _COLOR_TYPE.items()}.get(ctype)
    if depth != 8 or ch is None or interlace:
        raise ValueError(
            f"unsupported PNG (depth={depth}, color_type={ctype}, "
            f"interlace={interlace})"
        )
    stride = w * ch
    raw = zlib.decompress(b"".join(idat))
    if len(raw) < h * (stride + 1):
        raise ValueError("truncated PNG pixel data")
    out = bytearray(h * stride)
    prev = bytearray(stride)
    for y in range(h):
        p = y * (stride + 1)
        f, line = raw[p], bytearray(raw[p + 1 : p + 1 + stride])
        for i in range(stride if f else 0):  # filter 0 (None) is a copy
            a = line[i - ch] if i >= ch else 0
            b, c = prev[i], (prev[i - ch] if i >= ch else 0)
            if f == 1:  # Sub
                line[i] = (line[i] + a) & 255
            elif f == 2:  # Up
                line[i] = (line[i] + b) & 255
            elif f == 3:  # Average
                line[i] = (line[i] + ((a + b) >> 1)) & 255
            elif f == 4:  # Paeth
                pa, pb, pc = abs(b - c), abs(a - c), abs(a + b - 2 * c)
                pred = a if pa <= pb and pa <= pc else (b if pb <= pc else c)
                line[i] = (line[i] + pred) & 255
        out[y * stride : (y + 1) * stride] = line
        prev = line
    return w, h, ch, bytes(out)


def read_png_meta(path: str) -> dict[str, str]:
    """Parse IHDR dimensions + tEXt chunks back out of a PNG (test hook)."""
    with open(path, "rb") as fh:
        data = fh.read()
    assert data[:8] == _PNG_SIG, "not a PNG"
    meta: dict[str, str] = {}
    pos = 8
    while pos < len(data):
        (ln,) = struct.unpack(">I", data[pos : pos + 4])
        tag = data[pos + 4 : pos + 8]
        payload = data[pos + 8 : pos + 8 + ln]
        if tag == b"IHDR":
            w, h = struct.unpack(">II", payload[:8])
            meta["width"], meta["height"] = str(w), str(h)
        elif tag == b"tEXt":
            key, _, val = payload.partition(b"\x00")
            meta[key.decode("latin-1")] = val.decode("latin-1")
        pos += 12 + ln
    return meta


# --------------------------------------------------------------------------
# 3x5 bitmap font (scaled 2x at draw time)
# --------------------------------------------------------------------------

_FONT = {
    "A": "010101111101101", "B": "110101110101110", "C": "011100100100011",
    "D": "110101101101110", "E": "111100110100111", "F": "111100110100100",
    "G": "011100101101011", "H": "101101111101101", "I": "111010010010111",
    "J": "001001001101010", "K": "101101110101101", "L": "100100100100111",
    "M": "101111111101101", "N": "110101101101101", "O": "010101101101010",
    "P": "110101110100100", "Q": "010101101110011", "R": "110101110101101",
    "S": "011100010001110", "T": "111010010010010", "U": "101101101101111",
    "V": "101101101101010", "W": "101101111111101", "X": "101101010101101",
    "Y": "101101010010010", "Z": "111001010100111",
    "0": "111101101101111", "1": "010110010010111", "2": "111001111100111",
    "3": "111001011001111", "4": "101101111001001", "5": "111100111001111",
    "6": "111100111101111", "7": "111001010010010", "8": "111101111101111",
    "9": "111101111001111",
    ".": "000000000000010", ",": "000000000010100", ":": "000010000010000",
    "-": "000000111000000", "+": "000010111010000", "%": "101001010100101",
    "/": "001001010100100", "=": "000111000111000", "_": "000000000000111",
    " ": "000000000000000", "(": "010100100100010", ")": "010001001001010",
}


def _draw_text(canvas: np.ndarray, x: int, y: int, text: str,
               color=(20, 20, 20), scale: int = 2) -> None:
    """Stamp ``text`` (uppercased; unknown glyphs → space) at (x, y)."""
    h, w, _ = canvas.shape
    cx = x
    for ch in text.upper():
        bits = _FONT.get(ch, _FONT[" "])
        for r in range(5):
            for c in range(3):
                if bits[r * 3 + c] == "1":
                    y0, x0 = y + r * scale, cx + c * scale
                    canvas[
                        max(0, y0) : min(h, y0 + scale),
                        max(0, x0) : min(w, x0 + scale),
                    ] = color
        cx += 4 * scale


def _fill(canvas: np.ndarray, y0: int, y1: int, x0: int, x1: int, color) -> None:
    h, w, _ = canvas.shape
    y0, y1 = max(0, min(y0, y1)), min(h, max(y0, y1))
    x0, x1 = max(0, min(x0, x1)), min(w, max(x0, x1))
    canvas[y0:y1, x0:x1] = color


def _dashed_hline(canvas: np.ndarray, y: int, x0: int, x1: int, color,
                  dash: int = 6) -> None:
    for x in range(x0, x1, dash * 2):
        _fill(canvas, y, y + 1, x, min(x + dash, x1), color)


def _dashed_vline(canvas: np.ndarray, x: int, y0: int, y1: int, color,
                  dash: int = 6) -> None:
    for y in range(y0, y1, dash * 2):
        _fill(canvas, y, min(y + dash, y1), x, x + 1, color)


# --------------------------------------------------------------------------
# Chart renderers
# --------------------------------------------------------------------------

_W, _H = 960, 480
_MARGIN = 48
_BG = (255, 255, 255)
_AXIS = (40, 40, 40)
_GRID = (225, 225, 225)


def render_bar_png(
    labels: list[str],
    values: list[float],
    path: str,
    *,
    title: str,
    color: tuple[int, int, int],
    value_fmt: str = "{:.1f}",
) -> None:
    """Vertical bar chart with value labels atop bars and a zero baseline
    (the notebook draws an axhline when values can be negative)."""
    labels = [str(lab) for lab in labels]
    canvas = np.full((_H, _W, 3), _BG, dtype=np.uint8)
    plot_x0, plot_x1 = _MARGIN, _W - _MARGIN
    plot_y0, plot_y1 = _MARGIN + 16, _H - _MARGIN

    # an all-NULL metric leaves no bars — render axes + title, not a crash
    lo, hi = min([0.0, *values]), max([0.0, *values])
    span = (hi - lo) or 1.0

    def to_y(v: float) -> int:
        return int(plot_y1 - (v - lo) / span * (plot_y1 - plot_y0))

    for gy in np.linspace(plot_y0, plot_y1, 5):
        _fill(canvas, int(gy), int(gy) + 1, plot_x0, plot_x1, _GRID)

    n = len(values)
    slot = (plot_x1 - plot_x0) // max(n, 1)
    bar_w = int(slot * 0.6)
    y_zero = to_y(0.0)
    for i, (lab, v) in enumerate(zip(labels, values)):
        x0 = plot_x0 + i * slot + (slot - bar_w) // 2
        y_v = to_y(v)
        _fill(canvas, min(y_v, y_zero), max(y_v, y_zero), x0, x0 + bar_w, color)
        txt = value_fmt.format(v)
        tx = x0 + max(0, (bar_w - len(txt) * 8) // 2)
        _draw_text(canvas, tx, min(y_v, y_zero) - 14, txt)
        _draw_text(canvas, x0 + max(0, (bar_w - len(lab) * 8) // 2),
                   plot_y1 + 6, lab)

    _fill(canvas, y_zero, y_zero + 1, plot_x0, plot_x1, _AXIS)  # baseline
    _fill(canvas, plot_y0, plot_y1, plot_x0, plot_x0 + 1, _AXIS)  # y axis
    _draw_text(canvas, plot_x0, _MARGIN - 16, title)

    meta = {
        "title": title,
        "series": ";".join(f"{l}={v!r}" for l, v in zip(labels, values)),
    }
    with open(path, "wb") as fh:
        fh.write(encode_png(canvas, meta))


def render_scatter_png(
    points: list[tuple[str, float, float, float]],
    path: str,
    *,
    title: str,
) -> None:
    """Risk/return scatter: (label, x=risk, y=return, weight=volume) points,
    radius ∝ sqrt(weight) (area ∝ volume, like the notebook's ``s=``),
    color on a red→green ramp by return, dashed mean reference lines."""
    points = [(str(lab), x, y, wgt) for lab, x, y, wgt in points]
    canvas = np.full((_H, _W, 3), _BG, dtype=np.uint8)
    plot_x0, plot_x1 = _MARGIN, _W - _MARGIN
    plot_y0, plot_y1 = _MARGIN + 16, _H - _MARGIN

    xs = [p[1] for p in points] or [0.0]
    ys = [p[2] for p in points] or [0.0]
    ws = [p[3] for p in points] or [1.0]
    x_lo, x_hi = min(xs), max(xs)
    y_lo, y_hi = min(ys), max(ys)
    x_span, y_span = (x_hi - x_lo) or 1.0, (y_hi - y_lo) or 1.0
    w_hi = max(ws) or 1.0

    def to_px(x: float) -> int:
        return int(plot_x0 + (x - x_lo) / x_span * (plot_x1 - plot_x0 - 20) + 10)

    def to_py(y: float) -> int:
        return int(plot_y1 - (y - y_lo) / y_span * (plot_y1 - plot_y0 - 20) - 10)

    for lab, x, y, wgt in sorted(points, key=lambda p: -p[3]):
        cx, cy = to_px(x), to_py(y)
        r = 4 + int(10 * (wgt / w_hi) ** 0.5)
        t = (y - y_lo) / y_span  # 0 → worst return (red), 1 → best (green)
        color = np.array(
            [int(220 * (1 - t) + 60 * t), int(60 * (1 - t) + 180 * t), 70],
            dtype=np.uint8,
        )
        # the disc's bounding box only: centres sit >= 58 px inside the
        # canvas (margin + 10 px inset) and r <= 14, so it never clips
        dy, dx = np.ogrid[-r : r + 1, -r : r + 1]
        box = canvas[cy - r : cy + r + 1, cx - r : cx + r + 1]
        box[dx * dx + dy * dy <= r * r] = color
        _draw_text(canvas, cx - len(lab) * 4, cy - r - 12, lab)

    mean_y = to_py(float(np.mean(ys)))
    mean_x = to_px(float(np.mean(xs)))
    _dashed_hline(canvas, mean_y, plot_x0, plot_x1, (130, 130, 130))
    _dashed_vline(canvas, mean_x, plot_y0, plot_y1, (130, 130, 130))
    _fill(canvas, plot_y1, plot_y1 + 1, plot_x0, plot_x1, _AXIS)
    _fill(canvas, plot_y0, plot_y1, plot_x0, plot_x0 + 1, _AXIS)
    _draw_text(canvas, plot_x0, _MARGIN - 16, title)

    meta = {
        "title": title,
        "series": ";".join(
            f"{lab}=({x!r},{y!r},{wgt!r})" for lab, x, y, wgt in points
        ),
    }
    with open(path, "wb") as fh:
        fh.write(encode_png(canvas, meta))


# --------------------------------------------------------------------------
# The S9 chart sink: the notebook's four files
# --------------------------------------------------------------------------


def write_report_charts(
    rows: ReportRows, out_dir: str, *, k: int = 5, max_points: int = 2000
) -> dict[str, str]:
    """Draw the notebook's four figures of ``rows`` into ``out_dir``.

    Returns {chart_key: file_path}. File names mirror the notebook's
    ``outputs/`` artifacts (01_volatilidade / 02_performance / 03_volume
    plus the risk/return scatter, cell 805fec87). The scatter skips a
    ticker with a NULL or NaN stat, as ``DataFrame.dropna`` does.
    """
    import os

    os.makedirs(out_dir, exist_ok=True)
    top_vol = ranked(rows.tickers, "volatility", k)
    top_perf = ranked(rows.tickers, "mean_change", k)
    top_volume = ranked(rows.tickers, "total_volume", k)
    complete = [
        r for r in rows.tickers
        if not any(v is None or (isinstance(v, float) and math.isnan(v)) for v in r)
    ]
    scatter = ranked(complete, "total_volume", max_points)

    paths = {
        "volatility": f"{out_dir}/01_volatilidade.png",
        "performance": f"{out_dir}/02_performance.png",
        "volume": f"{out_dir}/03_volume.png",
        "risk_return": f"{out_dir}/04_risco_retorno.png",
    }
    render_bar_png(
        [r["ticker"] for r in top_vol if r["volatility"] is not None],
        [r["volatility"] for r in top_vol if r["volatility"] is not None],
        paths["volatility"],
        title=f"TOP {k} ACOES COM MAIOR VOLATILIDADE",
        color=(255, 107, 107),  # notebook's #FF6B6B
        value_fmt="{:.1f}%",
    )
    render_bar_png(
        [r["ticker"] for r in top_perf if r["mean_change"] is not None],
        [r["mean_change"] for r in top_perf if r["mean_change"] is not None],
        paths["performance"],
        title=f"TOP {k} ACOES COM MELHOR PERFORMANCE MEDIA",
        color=(81, 207, 102),  # notebook's #51CF66
        value_fmt="{:+.1f}%",
    )
    render_bar_png(
        [r["ticker"] for r in top_volume if r["total_volume"] is not None],
        [r["total_volume"] / 1e9 for r in top_volume
         if r["total_volume"] is not None],
        paths["volume"],
        title=f"TOP {k} ACOES MAIS NEGOCIADAS (VOLUME)",
        color=(78, 205, 196),  # notebook's #4ECDC4
        value_fmt="{:.1f}B",
    )
    render_scatter_png(
        [
            (r["ticker"], r["volatility"], r["mean_change"], r["total_volume"])
            for r in scatter
        ],
        paths["risk_return"],
        title="RISCO VS RETORNO",
    )
    return paths
