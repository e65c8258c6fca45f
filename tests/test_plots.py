"""Rendered-plot builders: PNG validity + reference-parity behavior.

The reference's plot builders are matplotlib figures; ours are
dependency-free rasters. These tests verify the PNG container is
structurally valid (signature, IHDR dims, IDAT decompresses to exactly
h*(1+3w) filter-0 bytes), and that each builder follows the reference's
dispatch semantics (period gates, IQR fallback, None on no-outliers).
"""

import base64
import struct
import zlib

import numpy as np
import pandas as pd
import pytest

from tstoken import plots
from tstoken.compat import DataValidationError
from tstoken.plotting import (RED, Axes, Canvas, fmt_num, nice_ticks,
                              png_decode_size, png_encode, to_base64_png)


def _png_bytes(data_uri: str) -> bytes:
    assert data_uri.startswith("data:image/png;base64,")
    return base64.b64decode(data_uri.split(",", 1)[1])


def _assert_valid_png(data_uri: str) -> tuple[int, int]:
    raw = _png_bytes(data_uri)
    w, h = png_decode_size(raw)
    # find IDAT, decompress, verify filter-0 scanline framing
    i, idat = 8, b""
    while i < len(raw):
        ln = struct.unpack(">I", raw[i:i + 4])[0]
        tag = raw[i + 4:i + 8]
        if tag == b"IDAT":
            idat += raw[i + 8:i + 8 + ln]
        i += 12 + ln
    scan = zlib.decompress(idat)
    assert len(scan) == h * (1 + 3 * w)
    assert all(scan[r * (1 + 3 * w)] == 0 for r in range(h))
    return w, h


class TestPngEncoder:
    def test_roundtrip_dims_and_pixels(self):
        rgb = np.arange(5 * 7 * 3, dtype=np.uint8).reshape(5, 7, 3)
        raw = png_encode(rgb)
        assert png_decode_size(raw) == (7, 5)
        uri = to_base64_png(rgb)
        assert _assert_valid_png(uri) == (7, 5)

    def test_canvas_primitives_draw(self):
        c = Canvas(40, 30)
        c.line(0, 0, 39, 29, (255, 0, 0))
        c.marker(20, 15, (0, 0, 255), r=3)
        c.text(2, 2, "A1.")
        assert (c.a != 255).any()
        # out-of-bounds drawing must clip, not raise
        c.line(-50, -50, 100, 100, (0, 0, 0))
        c.marker(-10, -10, (0, 0, 0))

    def test_nice_ticks_and_fmt(self):
        t = nice_ticks(0, 10)
        assert t[0] >= 0 and t[-1] <= 10 and len(t) >= 3
        assert nice_ticks(5, 5) != []
        assert fmt_num(0) == "0"
        assert fmt_num(1234567) == "1.2e+06"
        assert fmt_num(3.5) == "3.5"


def _red_pixels(data_uri: str) -> int:
    """Count of pixels in the plots' RED."""
    raw = _png_bytes(data_uri)
    w, h = png_decode_size(raw)
    i, idat = 8, b""
    while i < len(raw):
        ln = struct.unpack(">I", raw[i:i + 4])[0]
        if raw[i + 4:i + 8] == b"IDAT":
            idat += raw[i + 8:i + 8 + ln]
        i += 12 + ln
    scan = np.frombuffer(zlib.decompress(idat), dtype=np.uint8)
    px = scan.reshape(h, 1 + 3 * w)[:, 1:].reshape(h, w, 3)
    return int((px == np.array(RED, dtype=np.uint8)).all(axis=-1).sum())


def _daily_df(n=800, spike_at=None, seed=7):
    rng = np.random.default_rng(seed)
    idx = pd.date_range("2021-01-01", periods=n, freq="D")
    y = (100 + 10 * np.sin(2 * np.pi * np.arange(n) / 7)
         + rng.normal(0, 2, n))
    for s in (spike_at if spike_at is not None else (n // 2,)):
        y[s] += 80
    return pd.DataFrame({"dt": idx, "cnt": y})


class TestBuilders:
    def test_iqr_plot(self):
        _assert_valid_png(plots.build_iqr_plot(_daily_df(120)))

    def test_monthwise_plot(self):
        _assert_valid_png(plots.build_monthwise_plot(_daily_df(180)))

    def test_seasonal_classic_gate(self):
        # 120 daily rows < 730 gate -> None (reference falls through)
        assert plots.build_seasonal_plot_classic(_daily_df(120)) is None
        uri = plots.build_seasonal_plot_classic(_daily_df(800))
        w, h = _assert_valid_png(uri)
        assert h > 400  # 4 stacked panels

    def test_moving_average_plot(self):
        uri = plots.build_outliers_plot_moving_average(_daily_df(200))
        assert uri is not None and _assert_valid_png(uri)
        # a flat series has no |z|>2 MA points -> None
        flat = _daily_df(60, spike_at=())
        flat["cnt"] = 50.0
        assert plots.build_outliers_plot_moving_average(flat) is None

    def test_classic_outliers_plot(self):
        _assert_valid_png(plots.build_outliers_plot_classic(
            _daily_df(800)))

    def test_stl_dispatch_and_plot(self):
        # under the gate the reference renders the IQR box plot instead
        _assert_valid_png(plots.build_outliers_plot_stl(_daily_df(120)))
        _assert_valid_png(plots.build_outliers_plot_stl(_daily_df(800)))

    def test_stl_seasonal_panels(self):
        assert plots.build_seasonal_plot_stl(_daily_df(100)) is None
        _assert_valid_png(plots.build_seasonal_plot_stl(_daily_df(800)))

    def test_mstl_plots(self):
        _assert_valid_png(plots.build_outliers_plot_mstl(_daily_df(800)))
        uri = plots.build_seasonal_plot_mstl(_daily_df(800))
        w, h = _assert_valid_png(uri)
        assert h > 500  # >= 4 panels incl per-period seasonals

    def test_esd_plot(self):
        _assert_valid_png(plots.build_outliers_plot_esd(_daily_df(300)))

    def test_duplicate_dates_raise(self):
        df = _daily_df(40)
        df.loc[5, "dt"] = df.loc[4, "dt"]
        with pytest.raises(DataValidationError):
            plots.build_seasonal_plot_classic(df)

    def test_outlier_markers_visibly_red(self):
        """The planted spike must appear as red marker pixels."""
        uri = plots.build_outliers_plot_classic(_daily_df(800))
        assert _red_pixels(uri) > 10

    def test_stl_and_mstl_markers_beyond_legend_swatch(self):
        """STL/MSTL flags are drawn at their dates: red pixels beyond
        the legend's one red swatch. A one-column (value-only) frame
        handed to the detector loses the dates, and its markers land
        off the canvas."""
        c = Canvas(900, 420)
        Axes(c, 70, 30, c.w - 90, c.h - 75).legend([("Outliers", RED)])
        swatch = int((c.a == RED).all(axis=-1).sum())
        assert swatch > 0
        df = _daily_df(800)
        for uri in (plots.build_outliers_plot_stl(df),
                    plots.generate_outlier_plot_mstl(df, (7, 365))):
            assert _red_pixels(uri) > swatch
