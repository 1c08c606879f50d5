"""PNG presentation sinks: each chart consumes its oracle-checked result
table and must emit a structurally valid PNG (signature, IHDR dims)
from the stdlib raster backend."""

from __future__ import annotations

import struct
import zlib

import numpy as np

from tests.conftest import SF_SMOKE
from wsu_cpts_415_spark.pipelines.charts import (
    correlation_heatmap,
    link_analysis_chart,
    scc_rollup_chart,
    write_png,
)
from wsu_cpts_415_spark.registry import all_queries


def _png_dims(path: str) -> tuple[int, int]:
    with open(path, "rb") as f:
        blob = f.read()
    assert blob[:8] == b"\x89PNG\r\n\x1a\n", "missing PNG signature"
    assert blob[12:16] == b"IHDR"
    w, h = struct.unpack(">II", blob[16:24])
    return w, h


def test_write_png_roundtrip(tmp_path):
    rgb = np.zeros((5, 7, 3), dtype=np.uint8)
    rgb[2, 3] = (10, 200, 30)
    out = str(tmp_path / "t.png")
    write_png(rgb, out)
    assert _png_dims(out) == (7, 5)
    # decode the IDAT back and check the exact pixel survives
    with open(out, "rb") as f:
        blob = f.read()
    size = struct.unpack(">I", blob[33:37])[0]
    raw = zlib.decompress(blob[41 : 41 + size])
    row2 = raw[2 * (1 + 7 * 3) + 1 :][: 7 * 3]
    assert tuple(row2[9:12]) == (10, 200, 30)


def test_reference_parity_charts(spark, tmp_path):
    qs = all_queries()
    for fn, query, fname in (
        (link_analysis_chart, "ref_link_analysis", "analyze_links.png"),
        (correlation_heatmap, "ref_correlation_matrix", "correlation_heatmap.png"),
        (scc_rollup_chart, "ref_scc_rollup", "graph_filter.png"),
    ):
        out = fn(qs[query].fn(spark, SF_SMOKE), str(tmp_path / fname))
        w, h = _png_dims(out)
        assert w > 100 and h > 100, (fname, w, h)
