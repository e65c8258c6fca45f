"""Rendered plot builders — parity with the reference's nine
matplotlib figures, drawn with tstoken.plotting (no matplotlib in this
container; a PNG is produced all the same).

Each builder mirrors one reference surface
(`reference/src/pycatcher/diagnostics.py`):

  build_seasonal_plot_classic      diagnostics.py:58   (+ :147)
  build_iqr_plot                   diagnostics.py:196
  build_monthwise_plot             diagnostics.py:237
  build_outliers_plot_moving_average diagnostics.py:391
  build_outliers_plot_classic      diagnostics.py:449
  build_outliers_plot_stl          diagnostics.py:515  (+ :597)
  build_seasonal_plot_stl          diagnostics.py:647  (+ :729)
  build_outliers_plot_mstl         diagnostics.py:769  (+ :861)
  build_seasonal_plot_mstl         diagnostics.py:908  (+ :1001)
  build_outliers_plot_esd          diagnostics.py:1039

Unlike the reference (which returns live pyplot state), every builder
returns a base64 PNG data-URI string — the transport its own web/API
layer converts figures to anyway — so results are serializable and
testable. Detection semantics are NOT reimplemented here: each builder
calls the same tstoken.compat detector or decision the headless path
uses (period gates, SSACF model pick, STL/MSTL/ESD flags), so a plot
can never disagree with the API's flags. Outlier frames go to
`_line_with_outliers` as the detector returns them: markers sit at the
frame's DatetimeIndex, or at its first column's dates otherwise, so the
STL/MSTL/ESD detectors are called on a (date, value) frame.

Plots are driver-side over bounded frames (rollup tiers, month stats);
the 100 TB path stays in the Spark modules.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from . import compat
from .plotting import (C0, C1, GREEN, GREY, RED, Axes, Canvas,
                       data_range, to_base64_png)

__all__ = [
    "build_seasonal_plot_classic", "generate_seasonal_plot_classic",
    "build_iqr_plot", "build_monthwise_plot",
    "build_outliers_plot_moving_average", "build_outliers_plot_classic",
    "build_outliers_plot_stl", "generate_outlier_plot_stl",
    "build_seasonal_plot_stl", "generate_seasonal_plot_stl",
    "build_outliers_plot_mstl", "generate_outlier_plot_mstl",
    "build_seasonal_plot_mstl", "generate_seasonal_plot_mstl",
    "build_outliers_plot_esd",
]

_DAY_NS = 86400 * 10 ** 9


def _prep(df) -> pd.DataFrame:
    """Reference prologue shared by every builder: toPandas if needed,
    first column parsed to a DatetimeIndex, last column numeric."""
    if not isinstance(df, pd.DataFrame):
        df = df.toPandas()
    ts = df.copy()
    if not isinstance(ts.index, pd.DatetimeIndex):
        ts = ts.set_index(pd.to_datetime(ts.iloc[:, 0])).dropna()
        if ts.shape[1] > 1:
            ts = ts.iloc[:, 1:]
    ts.iloc[:, -1] = pd.to_numeric(ts.iloc[:, -1])
    return ts


def _xdays(index: pd.DatetimeIndex) -> np.ndarray:
    return index.asi8 / _DAY_NS


def _date_ticks(ax: Axes, index: pd.DatetimeIndex, n: int = 4) -> None:
    if len(index) == 0:
        return
    pos = np.linspace(0, len(index) - 1, min(n, len(index))).astype(int)
    xs = _xdays(index)
    ax.x_tick_labels(xs[pos],
                     [index[i].strftime("%Y-%m-%d") for i in pos])


def _series_axes(c: Canvas, title: str) -> Axes:
    ax = Axes(c, 70, 30, c.w - 90, c.h - 75)
    c.text_center(c.w / 2, 10, title)
    return ax


def _line_with_outliers(df: pd.DataFrame, outliers, title: str,
                        marker_color=RED, extra: dict | None = None,
                        out_label: str = "Outliers") -> str:
    """Series line, optional extra lines, outlier markers — the shape
    of every reference outlier plot."""
    c = Canvas(900, 420)
    ax = _series_axes(c, title)
    y = df.iloc[:, -1].to_numpy(dtype=float)
    extra = extra or {}
    lo, hi = data_range(y, *[v for v in extra.values()])
    ax.set_ylim(lo, hi)
    xs = _xdays(df.index)
    ax.set_xlim(xs.min(), xs.max())
    ax.frame()
    _date_ticks(ax, df.index)
    ax.polyline(ax.px(xs), ax.py(y), C0)
    legend = [("Original Data", C0)]
    for (label, series), color in zip(extra.items(), (C1, GREEN)):
        ax.polyline(ax.px(xs), ax.py(np.asarray(series, dtype=float)),
                    color)
        legend.append((label, color))
    if isinstance(outliers, pd.DataFrame) and not outliers.empty:
        oidx = outliers.index
        if not isinstance(oidx, pd.DatetimeIndex):
            oidx = pd.to_datetime(outliers.iloc[:, 0])
        ovals = pd.to_numeric(outliers.iloc[:, -1]).to_numpy(dtype=float)
        for xo, vo in zip(_xdays(pd.DatetimeIndex(oidx)), ovals):
            c.marker(float(ax.px(xo)), float(ax.py(vo)), marker_color, r=4)
        legend.append((out_label, marker_color))
    ax.legend(legend)
    return to_base64_png(c.a)


def _component_panels(index: pd.DatetimeIndex,
                      components: list[tuple[str, np.ndarray]],
                      title: str) -> str:
    """Stacked single-line panels — the reference's plot_seasonal
    layout (diagnostics.py:31-55: Observed/Trend/Seasonal/Residual)."""
    n = len(components)
    panel_h, gap = 130, 14
    c = Canvas(900, 30 + n * (panel_h + gap) + 30)
    c.text_center(c.w / 2, 10, title)
    xs = _xdays(index)
    for i, (name, vals) in enumerate(components):
        top = 30 + i * (panel_h + gap)
        ax = Axes(c, 70, top, c.w - 90, panel_h)
        vals = np.asarray(vals, dtype=float)
        ax.set_ylim(*data_range(vals))
        ax.set_xlim(xs.min(), xs.max())
        ax.frame()
        if i == n - 1:
            _date_ticks(ax, index)
        ax.polyline(ax.px(xs), ax.py(vals), C0)
        c.text(74, top + 4, name, GREY)
    return to_base64_png(c.a)


# ------------------------------------------------------------ boxplots

def build_iqr_plot(df) -> str:
    """Horizontal box plot of the value column with the mean marked
    (diagnostics.py:196-234: seaborn boxplot, showmeans=True, title
    'Outlier Detection Plot')."""
    if not isinstance(df, pd.DataFrame):
        df = df.toPandas()
    vals = pd.to_numeric(df.iloc[:, -1]).dropna()
    q1, med, q3 = vals.quantile([0.25, 0.5, 0.75],
                                interpolation="linear")
    iqr = q3 - q1
    lo_f, hi_f = q1 - 1.5 * iqr, q3 + 1.5 * iqr
    inside_lo = vals[vals >= lo_f]
    inside_hi = vals[vals <= hi_f]
    wlo = float(inside_lo.min()) if len(inside_lo) else float(q1)
    whi = float(inside_hi.max()) if len(inside_hi) else float(q3)
    fliers = vals[(vals < lo_f) | (vals > hi_f)].to_numpy()

    c = Canvas(700, 320)
    ax = Axes(c, 60, 40, c.w - 80, c.h - 90)
    c.text_center(c.w / 2, 14, "Outlier Detection Plot")
    lo, hi = data_range(vals.to_numpy())
    ax.set_ylim(0, 1)
    ax.set_xlim(lo - 0.05 * (hi - lo or 1), hi + 0.05 * (hi - lo or 1))
    ax.frame(y_ticks=False, grid=False)
    for t in np.linspace(lo, hi, 5):
        x = float(ax.px(t))
        c.line(x, ax.y1, x, ax.y1 + 3)
        c.text_center(x, ax.y1 + 6, f"{t:.0f}", GREY)
    c.text_center((ax.x0 + ax.x1) / 2, ax.y1 + 20, "Values", GREY)
    ax.boxplot((ax.y0 + ax.y1) / 2, (ax.y1 - ax.y0) * 0.5,
               float(q1), float(med), float(q3), wlo, whi,
               fliers=fliers, mean=float(vals.mean()), horizontal=True)
    return to_base64_png(c.a)


def build_monthwise_plot(df) -> str:
    """Month-wise box plot (diagnostics.py:237-259), one box per
    Month-Year from the same per-month stats the data-half endpoint
    serves (compat.build_monthwise_stats)."""
    stats = compat.build_monthwise_stats(df)
    c = Canvas(max(500, 70 + 46 * len(stats) + 30), 360)
    ax = Axes(c, 70, 36, c.w - 90, c.h - 90)
    c.text_center(c.w / 2, 12, "Month-wise Box Plot")
    lo, hi = data_range(stats["vmin"].to_numpy(dtype=float),
                        stats["vmax"].to_numpy(dtype=float))
    ax.set_ylim(lo, hi)
    ax.set_xlim(-0.6, len(stats) - 0.4)
    ax.frame()
    for i, row in stats.iterrows():
        ax.boxplot(float(ax.px(i)), 28.0, float(row["q1"]),
                   float(row["median"]), float(row["q3"]),
                   float(row["whisker_lo"]), float(row["whisker_hi"]))
        c.text_center(float(ax.px(i)), ax.y1 + 6,
                      str(row["Month-Year"]), GREY)
    return to_base64_png(c.a)


# --------------------------------------------- classical decomposition

def build_seasonal_plot_classic(df) -> str | None:
    """Frequency-gated classical seasonal plot (diagnostics.py:58-144).
    Returns None when no period is detectable, mirroring the
    reference's print-and-fall-through."""
    df_ts = _prep(df)
    if not df_ts.index.is_unique:
        raise compat.DataValidationError(
            "Duplicate date index values. Check your data.")
    period = compat.detect_ts_frequency(df_ts)
    if period is None:
        return None
    return generate_seasonal_plot_classic(df_ts, period)


def generate_seasonal_plot_classic(df, detected_period) -> str:
    """Additive/multiplicative classical decomposition, SSACF pick,
    4-panel plot titled with the chosen model (diagnostics.py:147-190
    + the plot_seasonal layout at :31)."""
    df_ts = _prep(df)
    chosen, model = compat._reference_decomposition(
        df_ts.iloc[:, -1].to_numpy(dtype=np.float64), detected_period)
    return _component_panels(
        df_ts.index,
        [("Observed", chosen.observed), ("Trend", chosen.trend),
         ("Seasonal", chosen.seasonal), ("Residual", chosen.resid)],
        model.capitalize())


# ----------------------------------------------------- outlier plots

def build_outliers_plot_moving_average(df) -> str | None:
    """Series + moving average + green outlier markers
    (diagnostics.py:391-446). Window size and z>2 flags come from the
    same compat kernels as the headless detector."""
    df_ts = _prep(df)
    window = compat.calculate_optimal_window_size(df_ts.reset_index())
    ma = df_ts.iloc[:, -1].rolling(window=window).mean()
    z = compat.anomaly_zscore(ma.to_numpy(dtype=float))
    outliers = df_ts[np.abs(z) > 2]
    if outliers.empty:
        return None  # reference prints and returns nothing
    return _line_with_outliers(
        df_ts, outliers, "Moving Average Outliers", marker_color=GREEN,
        extra={"Moving Average": ma.to_numpy(dtype=float)})


def build_outliers_plot_classic(df) -> str:
    """Classical-decomposition outliers as red markers on the series
    (diagnostics.py:449-512); flags via compat.decompose_and_detect."""
    df_ts = _prep(df)
    out = compat.decompose_and_detect(df_ts, sentinel=False)
    return _line_with_outliers(df_ts, out, "Classic Decomposition "
                               "Outliers")


def build_outliers_plot_stl(df) -> str:
    """STL outlier plot with the reference's dispatch: period gate,
    else IQR box plot (diagnostics.py:515-594)."""
    df_ts = _prep(df)
    if not df_ts.index.is_unique:
        raise compat.DataValidationError(
            "Duplicate date index values. Check your data.")
    period = compat.detect_ts_frequency(df_ts)
    if period is None:
        return build_iqr_plot(df_ts.reset_index())
    return generate_outlier_plot_stl(df_ts, period)


def generate_outlier_plot_stl(df, detected_period) -> str:
    """diagnostics.py:597-644: STL flags (variance model pick, same
    compat kernel as detect_outliers_stl) as red markers."""
    df_ts = _prep(df)
    out = compat.detect_outliers_stl_extended(
        df_ts.iloc[:, [-1]].reset_index(), detected_period)
    return _line_with_outliers(df_ts, out, "STL Outliers")


def build_seasonal_plot_stl(df) -> str | None:
    """STL seasonal panels with the period gate
    (diagnostics.py:647-726); None when no period is detectable."""
    df_ts = _prep(df)
    period = compat.detect_ts_frequency(df_ts)
    if period is None:
        return None
    return generate_seasonal_plot_stl(df_ts, period)


def generate_seasonal_plot_stl(df, detected_period) -> str:
    """diagnostics.py:729-766: STL decomposition panels."""
    from .stats.stl import stl_fit
    df_ts = _prep(df)
    seasonal = detected_period + ((detected_period % 2) == 0)
    res = stl_fit(df_ts.iloc[:, -1].to_numpy(dtype=np.float64),
                  period=detected_period, seasonal=seasonal)
    return _component_panels(
        df_ts.index,
        [("Observed", res.observed), ("Trend", res.trend),
         ("Seasonal", res.seasonal), ("Residual", res.resid)],
        "STL Decomposition")


def build_outliers_plot_mstl(df) -> str:
    """MSTL outlier plot (diagnostics.py:769-858): red markers from
    the same compat MSTL detector, IQR fallback under the gate."""
    df_ts = _prep(df)
    out = compat.detect_outliers_mstl(df_ts.reset_index(),
                                      sentinel=False)
    return _line_with_outliers(df_ts, out, "MSTL Outliers")


def generate_outlier_plot_mstl(df, derived_period) -> str:
    """diagnostics.py:861-905: MSTL flags at an explicit period set."""
    df_ts = _prep(df)
    out = compat.detect_outliers_mstl_extended(
        df_ts.iloc[:, [-1]].reset_index(), derived_period)
    return _line_with_outliers(df_ts, out, "MSTL Outliers")


def build_seasonal_plot_mstl(df) -> str | None:
    """MSTL seasonal panels (diagnostics.py:908-998): one panel per
    seasonal component."""
    df_ts = _prep(df)
    periods = compat.mstl_periods(df_ts.index.inferred_freq, len(df_ts))
    if periods is None:
        return None
    return generate_seasonal_plot_mstl(df_ts, periods)


def generate_seasonal_plot_mstl(df, derived_period) -> str:
    """diagnostics.py:1001-1036: MSTL component panels."""
    from .stats.mstl import mstl_fit
    df_ts = _prep(df)
    res = mstl_fit(df_ts.iloc[:, -1].to_numpy(dtype=np.float64),
                   derived_period)
    seas = np.atleast_2d(res.seasonal)  # (k, n); (n,) when one period
    panels = [("Observed", res.observed), ("Trend", res.trend)]
    panels += [(f"Seasonal {p}", seas[i])
               for i, p in enumerate(res.periods)]
    panels.append(("Residual", res.resid))
    return _component_panels(df_ts.index, panels, "MSTL Decomposition")


def build_outliers_plot_esd(df) -> str:
    """Generalized-ESD outlier plot (diagnostics.py:1039-end): red
    markers from the compat ESD detector."""
    df_ts = _prep(df)
    out = compat.detect_outliers_esd(df_ts.reset_index(),
                                     sentinel=False)
    return _line_with_outliers(df_ts, out, "ESD Outliers")
