"""PNG presentation sinks (S10/S11 parity with the reference's matplotlib
artifacts): link-analysis scatter panels (analyze_links.py:30-70),
correlation heatmap (correlation_analysis.py:112-136) and SCC cluster
scatter panels (graph_filter.py:30-69).

Each chart consumes an already-oracle-checked result table, fetches the
BOUNDED plot rows to the driver (top-N links, an 8x8 matrix, component
rollups -- presentation data, never the fact table) and renders a PNG.

Rendering backend: a dependency-free raster that draws the reference's
panels into a numpy RGB canvas and writes the PNG with stdlib zlib, so
the sinks need no plotting library.  Tests smoke-check the PNG's
signature and dimensions (tests/test_charts.py).
"""

from __future__ import annotations

import struct
import zlib

import numpy as np
from pyspark.sql import DataFrame

PLOT_ROW_CAP = 10_000  # bounded driver fetch for every chart


# ---------------------------------------------------------------------------
# dependency-free PNG raster backend
# ---------------------------------------------------------------------------


def write_png(rgb: np.ndarray, path: str) -> None:
    """Write an (H, W, 3) uint8 array as an 8-bit RGB PNG (stdlib only)."""
    h, w, _ = rgb.shape
    raw = b"".join(b"\x00" + rgb[y].tobytes() for y in range(h))

    def chunk(tag: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + tag
            + data
            + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    with open(path, "wb") as f:
        f.write(b"\x89PNG\r\n\x1a\n")
        f.write(chunk(b"IHDR", ihdr))
        f.write(chunk(b"IDAT", zlib.compress(raw, 6)))
        f.write(chunk(b"IEND", b""))


def _canvas(h: int, w: int) -> np.ndarray:
    return np.full((h, w, 3), 255, dtype=np.uint8)


def _frame(c: np.ndarray) -> None:
    c[0, :] = c[-1, :] = c[:, 0] = c[:, -1] = 60


def _scatter_panel(
    c: np.ndarray, xs: np.ndarray, ys: np.ndarray, color=(31, 119, 180)
) -> None:
    """Stamp 3x3 dots for (x, y) points scaled into the panel's canvas."""
    _frame(c)
    h, w, _ = c.shape
    if len(xs) == 0:
        return
    xs = np.asarray(xs, dtype=np.float64)
    ys = np.asarray(ys, dtype=np.float64)
    xspan = (xs.max() - xs.min()) or 1.0
    yspan = (ys.max() - ys.min()) or 1.0
    px = (4 + (xs - xs.min()) / xspan * (w - 9)).astype(int)
    py = (h - 5 - (ys - ys.min()) / yspan * (h - 9)).astype(int)
    for x, y in zip(px, py):
        c[y - 1 : y + 2, x - 1 : x + 2] = color


def _panel_grid(
    series: list[tuple[np.ndarray, np.ndarray]], ncols: int, panel: int = 240
) -> np.ndarray:
    nrows = (len(series) + ncols - 1) // ncols
    canvas = _canvas(nrows * panel + 20, ncols * panel + 20)
    for i, (xs, ys) in enumerate(series):
        r, col = divmod(i, ncols)
        y0, x0 = 10 + r * panel, 10 + col * panel
        _scatter_panel(canvas[y0 : y0 + panel - 10, x0 : x0 + panel - 10], xs, ys)
    return canvas


def _diverging_rgb(v: np.ndarray) -> np.ndarray:
    """Map values in [-1, 1] to a blue-white-red ramp, (..., 3) uint8."""
    v = np.clip(np.asarray(v, dtype=np.float64), -1.0, 1.0)
    out = np.empty(v.shape + (3,), dtype=np.uint8)
    neg = v < 0
    t = np.abs(v)
    # white -> red for positive, white -> blue for negative
    out[..., 0] = np.where(neg, (255 * (1 - t)), 255).astype(np.uint8)
    out[..., 1] = (255 * (1 - t)).astype(np.uint8)
    out[..., 2] = np.where(neg, 255, (255 * (1 - t))).astype(np.uint8)
    return out


# ---------------------------------------------------------------------------
# the three reference-parity chart sinks
# ---------------------------------------------------------------------------


def link_analysis_chart(links: DataFrame, path: str) -> str:
    """2x2 scatter panels: times_linked vs views / num_ratings /
    num_comments / age_days (reference analyze_links.py:30-70), fed by
    the oracle-checked ``ref_link_analysis`` result."""
    rows = links.limit(PLOT_ROW_CAP).toPandas()
    pairs = [
        ("times_linked", "views"),
        ("times_linked", "num_ratings"),
        ("times_linked", "num_comments"),
        ("times_linked", "age_days"),
    ]
    series = [(rows[x].to_numpy(), rows[y].to_numpy()) for x, y in pairs]
    write_png(_panel_grid(series, ncols=2), path)
    return path


def correlation_heatmap(matrix: DataFrame, path: str, cell: int = 48) -> str:
    """Heatmap of the pairwise correlation matrix (reference
    correlation_analysis.py:112-136), fed by the oracle-checked
    ``ref_correlation_matrix`` result in long form (col_a, col_b, corr);
    pivoted here to the symmetric feature x feature grid."""
    pdf = matrix.toPandas()
    names = sorted(set(pdf["col_a"]) | set(pdf["col_b"]))
    idx = {n: i for i, n in enumerate(names)}
    grid = np.eye(len(names), dtype=np.float64)
    for _, r in pdf.iterrows():
        i, j = idx[r["col_a"]], idx[r["col_b"]]
        grid[i, j] = grid[j, i] = r["corr"]
    rgb = _diverging_rgb(grid)
    raster = np.kron(rgb, np.ones((cell, cell, 1), dtype=np.uint8))
    canvas = _canvas(raster.shape[0] + 8, raster.shape[1] + 8)
    canvas[4:-4, 4:-4] = raster
    _frame(canvas)
    write_png(canvas, path)
    return path


def scc_rollup_chart(rollup: DataFrame, path: str) -> str:
    """1x3 scatter panels over SCC clusters: size vs avg views, size vs
    distinct uploaders, size vs distinct categories (reference
    graph_filter.py:30-69), fed by the oracle-checked ``ref_scc_rollup``
    result; the uploader/category panels keep only clusters of size > 1
    as the reference does."""
    rows = rollup.limit(PLOT_ROW_CAP).toPandas()
    multi = rows[rows["cluster_size"] > 1]
    series = [
        (rows["cluster_size"].to_numpy(), rows["avg_views"].to_numpy()),
        (
            multi["cluster_size"].to_numpy(),
            multi["distinct_uploaders"].to_numpy(),
        ),
        (
            multi["cluster_size"].to_numpy(),
            multi["distinct_categories"].to_numpy(),
        ),
    ]
    write_png(_panel_grid(series, ncols=3), path)
    return path
