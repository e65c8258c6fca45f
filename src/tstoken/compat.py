"""PyCatcher-compatible API surface over pure-NumPy kernels.

Reimplements the reference's public functions (aseemanand/pycatcher,
src/pycatcher/catch.py + diagnostics.py) with identical numeric
semantics but none of its dependencies (statsmodels/scipy/PyOD/sesd are
reimplemented in tstoken.stats). These functions operate on SMALL pandas
frames only — on the driver for API compatibility, and inside grouped
Arrow UDFs where each group is one rolled-up series (SURVEY.md §2.9).

Deliberate deviations from the reference (documented per SURVEY.md §7.4):
  - empty results return empty DataFrames, not the string sentinel
    "No outliers found." (callers can use the `sentinel=True` kwarg for
    byte-compatible behavior);
  - ESD outlier indices are mapped positionally, reproducing the
    reference's RangeIndex behavior (catch.py:1627-1635) — correct for
    the reset-index frames the engine feeds it;
  - "today"/"latest" functions accept an injectable `now` for testability
    (reference uses wall-clock pd.Timestamp.now(), catch.py:423).

Each reference decision is written once here: the freq/length gates
(`_gate`), the SSACF model pick (`_reference_decomposition`, guarded in
`_classic_decomposition`), the STL/MSTL model pick
(`_decomposition_outliers`) and the MC-Shapiro gate (`dispersion_flags`).
The grouped Spark detectors call `_classic_decomposition` and
`dispersion_flags`; `tstoken.plots` calls the gates and model picks.
"""

from __future__ import annotations

from typing import Union

import numpy as np
import pandas as pd

from .stats.acf import ssacf as _ssacf
from .stats.boxcox import boxcox as _boxcox, inv_boxcox as _inv_boxcox
from .stats.decompose import seasonal_decompose as _seasonal_decompose
from .stats.dispersion import (MAD_THRESHOLD, iqr_fences, mad_labels,
                               mad_scores, zscore as _zscore)
from .stats.esd import generalized_esd as _gesd, seasonal_esd as _sesd
from .stats.mstl import mstl_fit
from .stats.normality import monte_carlo_shapiro_pvalue, shapiro
from .stats.stl import stl_fit

NO_OUTLIERS = "No outliers found."


class DataValidationError(Exception):
    """Mirror of reference catch.py:67-82."""


class TimeSeriesError(Exception):
    """Mirror of reference catch.py:51-64."""


# ---------------------------------------------------------------- helpers

def check_and_convert_date(df: pd.DataFrame) -> pd.DataFrame:
    """First column → datetime index, dropna (catch.py:85-121)."""
    if df is None or df.empty:
        raise DataValidationError("Input DataFrame cannot be None or empty")
    df = df.copy()
    first = df.columns[0]
    try:
        df[first] = pd.to_datetime(df[first])
    except (ValueError, TypeError) as e:
        raise DataValidationError(
            f"First column must be in a recognizable date format: {e}")
    return df.set_index(first).dropna()


def _validate(df: pd.DataFrame) -> pd.DataFrame:
    if df is None:
        raise DataValidationError("Input DataFrame cannot be None")
    if not isinstance(df, pd.DataFrame):
        if hasattr(df, "toPandas"):
            df = df.toPandas()
        else:
            raise TypeError("Input must be a DataFrame or have toPandas method")
    if len(df.index) == 0:
        raise DataValidationError("Input DataFrame cannot have zero rows")
    if len(df.columns) == 0:
        raise DataValidationError("DataFrame must contain at least one value column")
    return df


# statsmodels freq_to_period (used by seasonal_decompose with no period)
_FREQ_PERIOD = {"A": 1, "Y": 1, "Q": 4, "M": 12, "W": 52, "D": 7, "B": 5,
                "H": 24, "h": 24}


def _freq_base(freq: str | None) -> str | None:
    if freq is None:
        return None
    return freq.split("-")[0].upper()


def _is_weekly(freq: str | None) -> bool:
    """Intent of the reference's sloppy regex r'[W-Za-z]' (catch.py:549)."""
    return freq is not None and _freq_base(freq).startswith("W")


def _date_indexed(df: pd.DataFrame) -> pd.DataFrame:
    """The frame itself if its index holds dates, else indexed by its
    first column parsed as dates (the column stays), NaN rows dropped."""
    if isinstance(df.index, pd.DatetimeIndex):
        return df
    return df.set_index(pd.to_datetime(df.iloc[:, 0])).dropna()


def _gate(table, freq: str | None, n: int):
    """The reference's freq/length dispatch (catch.py:488-586, 1190-1324,
    1508-1591): the period of the first (freq code, min length, period)
    row with the freq's code and min length <= n, else 52 for a weekly
    series of 104+ points, else None."""
    base = _freq_base(freq)
    for code, min_len, period in table:
        if base == code and n >= min_len:
            return period
    if _is_weekly(freq) and n >= 104:
        return 52
    return None


# ---------------------------------------------------------------- kernels

def find_outliers_iqr(df: pd.DataFrame) -> pd.DataFrame:
    """Rows outside [Q1-1.5·IQR, Q3+1.5·IQR] on the last column (catch.py:124-165)."""
    df = _validate(df)
    vals = pd.to_numeric(df.iloc[:, -1]).to_numpy(dtype=np.float64)
    lo, hi = iqr_fences(vals)
    return df[(vals < lo) | (vals > hi)]


def anomaly_zscore(residuals) -> np.ndarray:
    """Population z-scores (catch.py:172-196)."""
    if residuals is None or len(residuals) == 0:
        raise DataValidationError("Input residuals cannot be None or empty")
    if isinstance(residuals, pd.Series):
        return pd.Series(_zscore(residuals.to_numpy(dtype=np.float64)),
                         index=residuals.index)
    return _zscore(np.asarray(residuals, dtype=np.float64))


def anomaly_mad(residuals) -> np.ndarray:
    """PyOD MAD(threshold=3.5) labels (catch.py:199-238)."""
    if residuals is None or len(residuals) == 0:
        raise DataValidationError("Input residuals cannot be None or empty")
    vals = residuals.to_numpy(dtype=np.float64) if isinstance(
        residuals, pd.Series) else np.asarray(residuals, dtype=np.float64)
    return mad_labels(vals)


def get_residuals(result) -> np.ndarray:
    """NaN-free residual vector (catch.py:241-286)."""
    if result is None:
        raise DataValidationError("Input model cannot be None")
    if not hasattr(result, "resid"):
        raise DataValidationError("Model must have 'resid' attribute")
    resid = result.resid
    vals = resid.to_numpy(dtype=np.float64) if isinstance(
        resid, pd.Series) else np.asarray(resid, dtype=np.float64)
    clean = vals[~np.isnan(vals)]
    if clean.shape[0] == 0:
        raise ValueError("No valid residuals found after NaN removal")
    return clean


def sum_of_squares(array: np.ndarray) -> float:
    """Σx² of a flattened array (catch.py:289-330)."""
    if array is None:
        raise DataValidationError("Input array cannot be None")
    if not isinstance(array, np.ndarray):
        raise TypeError("Input must be a NumPy array")
    if array.size == 0:
        raise DataValidationError("Input array cannot be empty")
    return float(np.sum(array.flatten() ** 2))


def get_ssacf(residuals: np.ndarray, type: str = "") -> float:  # noqa: A002
    """Σ acf(resid)² (catch.py:333-376)."""
    if residuals is None:
        raise DataValidationError("Input residuals cannot be None")
    if not isinstance(residuals, np.ndarray):
        raise TypeError("Residuals must be a NumPy array")
    if residuals.size == 0:
        raise DataValidationError("Input residuals array cannot be empty")
    return _ssacf(residuals)


# ------------------------------------------------------- classic pipeline

def _reference_decomposition(x: np.ndarray, period: int):
    """(decomposition, model name) by the reference's SSACF pick
    (catch.py:589-691, diagnostics.py:147-190): additive when its
    residual SSACF is strictly smaller, else multiplicative. Unguarded
    like the reference: a non-positive x raises."""
    dec_add = _seasonal_decompose(x, "additive", period=period)
    dec_mul = _seasonal_decompose(x, "multiplicative", period=period)
    if get_ssacf(get_residuals(dec_add)) < get_ssacf(get_residuals(dec_mul)):
        return dec_add, "additive"
    return dec_mul, "multiplicative"


def _classic_decomposition(x: np.ndarray, period: int):
    """(decomposition, model name) of the engine's classic detectors.

    Additive, unless every x is > 0 and the multiplicative residuals'
    SSACF is no larger than the additive's — the reference's SSACF pick
    (catch.py:589-691), guarded so a series with a zero or negative
    point (a gap-filled bucket) never tries the multiplicative model.
    The compat surface keeps the reference's unguarded pick
    (`_reference_decomposition`); a NaN SSACF picks differently here.
    """
    dec = _seasonal_decompose(x, "additive", period=period)
    if np.all(x > 0):
        dec_m = _seasonal_decompose(x, "multiplicative", period=period)
        if get_ssacf(get_residuals(dec_m)) <= get_ssacf(get_residuals(dec)):
            return dec_m, "multiplicative"
    return dec, "additive"


def decompose_and_detect(df_pandas: pd.DataFrame,
                         sentinel: bool = True) -> Union[pd.DataFrame, str]:
    """Additive+multiplicative classical decomposition, SSACF pick, MAD
    flags (catch.py:589-691). Period inferred from the index freq like
    statsmodels (D→7, B→5, M→12, Q→4, W→52)."""
    if df_pandas is None:
        raise DataValidationError("Input DataFrame cannot be None")
    if len(df_pandas.index) == 0:
        raise DataValidationError("Input DataFrame cannot have zero rows")
    series = df_pandas.iloc[:, -1]
    if not np.issubdtype(series.dtype, np.number):
        raise DataValidationError("Last column must contain numeric values")
    freq = pd.infer_freq(df_pandas.index)
    period = _FREQ_PERIOD.get(_freq_base(freq) or "", None)
    if period is None:
        period = _FREQ_PERIOD["W"] if _is_weekly(freq) else 7
    dec, _ = _reference_decomposition(series.to_numpy(dtype=np.float64),
                                      period)
    df_outliers = df_pandas[anomaly_mad(dec.resid)]
    if df_outliers.empty and sentinel:
        return NO_OUTLIERS
    return df_outliers


def detect_outliers_iqr(df: pd.DataFrame,
                        sentinel: bool = True) -> Union[pd.DataFrame, str]:
    """IQR wrapper (catch.py:694-742)."""
    df = _validate(df)
    df = df.copy()
    df.iloc[:, -1] = pd.to_numeric(df.iloc[:, -1])
    out = find_outliers_iqr(df)
    if out.empty and sentinel:
        return NO_OUTLIERS
    return out


# the classic dispatch only asks whether a gate is met
_CLASSIC_GATES = (("D", 730, True), ("B", 520, True), ("MS", 24, True),
                  ("Q", 8, True))


def detect_outliers_classic(df: pd.DataFrame,
                            sentinel: bool = True) -> Union[pd.DataFrame, str]:
    """Dispatch per (inferred freq, length) gates (catch.py:488-586)."""
    df_pandas = _validate(df)
    df_pandas = check_and_convert_date(df_pandas)
    if not df_pandas.index.is_unique:
        raise DataValidationError("DataFrame contains duplicate date index values")
    if _gate(_CLASSIC_GATES, df_pandas.index.inferred_freq,
             len(df_pandas.index)):
        return decompose_and_detect(df_pandas, sentinel=sentinel)
    return detect_outliers_iqr(df_pandas, sentinel=sentinel)


# ------------------------------------------------------------ MA pipeline

def _time_series_split(n: int, n_splits: int = 5):
    """sklearn TimeSeriesSplit index pairs (catch.py:789-794)."""
    n_folds = n_splits + 1
    test_size = n // n_folds
    if test_size < 1:
        raise ValueError("too few samples for TimeSeriesSplit")
    indices = np.arange(n)
    for i in range(n_splits):
        test_start = n - (n_splits - i) * test_size
        yield indices[:test_start], indices[test_start:test_start + test_size]


def calculate_rmse(df: pd.DataFrame, window_size: int) -> float:
    """Mean CV-RMSE of a centered... trailing rolling mean (catch.py:743-808)."""
    if df is None:
        raise DataValidationError("Input DataFrame cannot be None")
    if not isinstance(window_size, int):
        raise TypeError("Window size must be an integer")
    if window_size <= 0:
        raise ValueError("Window size must be greater than 0")
    df_pandas = _validate(df)
    scores = []
    for train_idx, test_idx in _time_series_split(len(df_pandas)):
        test_df = df_pandas.iloc[test_idx].copy()
        ma = test_df.iloc[:, -1].rolling(window=window_size).mean()
        valid = ~ma.isna()
        if valid.any():
            err = test_df.iloc[:, -1][valid].to_numpy(dtype=np.float64) - \
                ma[valid].to_numpy(dtype=np.float64)
            scores.append(float(np.sqrt(np.mean(err ** 2))))
    return float(np.mean(scores)) if scores else float(np.nan)


def calculate_optimal_window_size(df: pd.DataFrame) -> int:
    """argmin over w∈[2,20] of mean CV-RMSE (catch.py:812-877)."""
    if df is None:
        raise DataValidationError("Input DataFrame cannot be None")
    df = _validate(df)
    window_sizes = range(2, 21)
    rmse_values = []
    for w in window_sizes:
        try:
            rmse_values.append(calculate_rmse(df, w))
        except Exception:
            rmse_values.append(np.nan)
    if np.all(np.isnan(rmse_values)):
        raise ValueError("All RMSE values are NaN. Check your data for issues.")
    return int(list(window_sizes)[int(np.nanargmin(rmse_values))])


def detect_outliers_moving_average(df: pd.DataFrame,
                                   sentinel: bool = True):
    """MA + z-score detector (catch.py:880-947)."""
    df_pandas = _validate(df)
    w = calculate_optimal_window_size(df_pandas)
    df1 = df_pandas.copy()
    df1.iloc[:, -1] = pd.to_numeric(df1.iloc[:, -1])
    ma = df1.iloc[:, -1].rolling(window=w).mean()
    z = anomaly_zscore(ma)
    outliers = df1[np.abs(z) > 2]
    if outliers.empty:
        return None if sentinel else outliers.iloc[:, :2]
    out = outliers.iloc[:, :2].reset_index(drop=True)
    return out


# ----------------------------------------------------------- STL pipeline

_STL_GATES = (("H", 17520, 24), ("D", 730, 365), ("B", 520, 365),
              ("MS", 24, 12), ("M", 24, 12), ("Q", 8, 4), ("A", 2, 1))


def detect_ts_frequency(df: pd.DataFrame) -> int | None:
    """Freq code + length gates → seasonal period (catch.py:1508-1591)."""
    df_ts = _date_indexed(_validate(df))
    if not df_ts.index.is_unique:
        return None
    return _gate(_STL_GATES, df_ts.index.inferred_freq, len(df_ts.index))


def _degenerate_decomposition(residuals: np.ndarray, x: np.ndarray) -> bool:
    """True when the decomposition absorbed the series entirely.

    With fewer than ~3 cycles the STL cycle-subseries LOESS (degree 1
    over ≤2 points) interpolates EXACTLY, leaving residuals that are
    pure floating-point noise — the reference's daily-730/period-365 and
    monthly-24/period-12 cases. The reference then flags whatever the FP
    residue amplifies (statsmodels' noise is magnitude-proportional, so
    its own test spike 'passes'); we make the semantics explicit instead:
    residual variance below 1e-12·var(x) ⇒ no residual signal.
    """
    clean = residuals[~np.isnan(residuals)]
    if clean.size == 0:
        return True
    xf = np.asarray(x, dtype=np.float64)
    vx = np.var(xf)
    # second term: a CONSTANT series has vx = 0, but LOESS leaves
    # fp-noise residuals proportional to the series magnitude — scale
    # the floor by rms(x) so flat series are recognized as degenerate
    # instead of having their fp residue z-scored (round-2 fix). The
    # 1e-12 relative-std floor sits well above float64 LOESS noise
    # (~1e-14·level) but well below any real signal: a series at level
    # 1e11 with true residual std 1 (relative 1e-11) must NOT be
    # classified degenerate.
    rms = np.sqrt(np.mean(np.square(xf))) if xf.size else 0.0
    thresh = max(1e-12 * vx, (1e-12 * rms) ** 2, 1e-300)
    return bool(np.var(clean) <= thresh)


def dispersion_flags(residuals: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(flags, scores) of the reference's dispersion gate
    (catch.py:1144-1162): when the MC-Shapiro p-value of the non-NaN
    residuals is > 0.05, |z| with flags |z| > 2; otherwise the MAD
    modified z with flags > 3.5."""
    _, p_value = monte_carlo_shapiro_pvalue(residuals[~np.isnan(residuals)])
    if p_value > 0.05:
        z = np.abs(_zscore(residuals))
        return z > 2.0, z
    s = mad_scores(residuals)
    return s > MAD_THRESHOLD, s


def _decomposition_outliers(df: pd.DataFrame, fit) -> pd.DataFrame:
    """The STL/MSTL "extended" body (catch.py:1057-1165, 1284-1388).
    `fit(y)` returns one model's residuals; it runs once on the Box-Cox
    transformed last column and once on the raw one. The residual
    variance picks the model, whose residuals the dispersion gate flags
    (IQR fences when the decomposition absorbed the series)."""
    x = df.iloc[:, -1].to_numpy(dtype=np.float64)
    transformed, lmbda = _boxcox(x)
    resid_mul = fit(transformed)
    resid_add = fit(x)
    # NB reference quirk (catch.py:1084-1090, 1308-1316): despite the
    # "lower variance" comment, the code selects multiplicative when
    # its residual variance is GREATER — reproduced faithfully.
    if np.var(resid_mul) > np.var(resid_add):
        residuals = _inv_boxcox(resid_mul, lmbda)
    else:
        residuals = resid_add
    if _degenerate_decomposition(residuals, x):
        out = find_outliers_iqr(df)
    else:
        out = df[dispersion_flags(residuals)[0]]
    return out.iloc[:, :2].reset_index(drop=True)


def detect_outliers_stl_extended(df_stl: pd.DataFrame, period: int) -> pd.DataFrame:
    """STL model pick + flags (catch.py:1057-1165)."""
    seasonal = period + ((period % 2) == 0)  # force odd
    return _decomposition_outliers(
        df_stl, lambda y: stl_fit(y, period=period, seasonal=seasonal).resid)


def detect_outliers_stl(df: pd.DataFrame, sentinel: bool = True):
    """STL detector with dispatch (catch.py:950-1054)."""
    df_pandas = _validate(df)
    df_stl = _date_indexed(df_pandas)
    if not df_stl.index.is_unique:
        raise DataValidationError("Duplicate date index values")
    period = _gate(_STL_GATES, df_stl.index.inferred_freq, len(df_stl.index))
    if period is None or period < 2:
        return detect_outliers_iqr(df_pandas, sentinel=sentinel)
    return detect_outliers_stl_extended(df_stl, period)


# ---------------------------------------------------------- MSTL pipeline

_MSTL_GATES = (("H", 17520, (24, 168)), ("D", 730, (7, 365)),
               ("B", 520, (5, 365)), ("MS", 24, 12), ("M", 24, 12),
               ("Q", 8, (4, 12)), ("A", 2, 1))


def mstl_periods(freq: str | None, n: int):
    """MSTL seasonal period(s) of an inferred freq at length n, or None
    under the gates (catch.py:1190-1324, diagnostics.py:908-998)."""
    return _gate(_MSTL_GATES, freq, n)


def detect_outliers_mstl(df: pd.DataFrame, sentinel: bool = True):
    """MSTL detector with dispatch (catch.py:1190-1324)."""
    df_pandas = _validate(df)
    df_mstl = _date_indexed(df_pandas)
    if not df_mstl.index.is_unique:
        raise DataValidationError("Duplicate date index values")
    periods = mstl_periods(df_mstl.index.inferred_freq, len(df_mstl.index))
    if periods is None:
        return detect_outliers_iqr(df_pandas, sentinel=sentinel)
    return detect_outliers_mstl_extended(df_mstl, periods)


def detect_outliers_mstl_extended(df: pd.DataFrame, periods) -> pd.DataFrame:
    """MSTL model pick + flags (catch.py:1284-1388)."""
    return _decomposition_outliers(
        df, lambda y: mstl_fit(y, periods=periods).resid)


# ----------------------------------------------------------- ESD pipeline

def generate_outliers_generalized_esd(df: pd.DataFrame, hybrid: bool):
    """(catch.py:1594-1635). Keyed by position like the reference's
    RangeIndex path; the engine always feeds reset-index frames."""
    n = len(df)
    series = np.asarray(df.iloc[:, -1], dtype=np.float64)
    idx = _gesd(series, max_anomalies=n // 20, alpha=0.05, hybrid=hybrid)
    if len(idx) == 0:
        return None
    return df.iloc[sorted(idx)]


def generate_outliers_seasonal_esd(df: pd.DataFrame, hybrid: bool):
    """(catch.py:1638-1689)."""
    n = len(df)
    period = detect_ts_frequency(df)
    series = np.asarray(df.iloc[:, -1], dtype=np.float64)
    idx = _sesd(series, periodicity=period, max_anomalies=n // 20,
                alpha=0.05, hybrid=hybrid)
    if len(idx) == 0:
        return None
    return df.iloc[sorted(idx)]


def detect_outliers_esd(df: pd.DataFrame, sentinel: bool = True):
    """Shapiro gate → generalized (normal) vs seasonal ESD (catch.py:1692-1752)."""
    df_pandas = _validate(df)
    _, p = shapiro(np.asarray(df_pandas.iloc[:, -1], dtype=np.float64))
    if p > 0.05:
        out = generate_outliers_generalized_esd(df_pandas, hybrid=False)
    else:
        out = generate_outliers_seasonal_esd(df_pandas, hybrid=True)
    if out is None:
        return NO_OUTLIERS if sentinel else df_pandas.iloc[0:0, :2]
    return out.iloc[:, :2].reset_index(drop=True)


# ------------------------------------------------------ latest/today APIs

def _latest(df_outliers, now=None, today_only=False, empty_msg="No Outliers Today!"):
    if isinstance(df_outliers, str) or df_outliers is None or df_outliers.empty:
        return empty_msg
    last = df_outliers.tail(1)
    if not today_only:
        return last
    last_date = pd.to_datetime(last.index[-1]).strftime("%Y-%m-%d") \
        if isinstance(last.index, pd.DatetimeIndex) else \
        pd.to_datetime(last.iloc[-1, 0]).strftime("%Y-%m-%d")
    current = (now or pd.Timestamp.now()).strftime("%Y-%m-%d")
    return last if last_date == current else empty_msg


def detect_outliers_today_classic(df, now=None):
    """(catch.py:379-432) with injectable clock."""
    return _latest(detect_outliers_classic(df, sentinel=False), now, True)


def detect_outliers_latest_classic(df):
    """(catch.py:435-485)."""
    return _latest(detect_outliers_classic(df, sentinel=False), None, False,
                   empty_msg="No outliers found.")


def detect_outliers_today_stl(df, now=None):
    return _latest(detect_outliers_stl(df, sentinel=False), now, True)


def detect_outliers_latest_stl(df):
    return _latest(detect_outliers_stl(df, sentinel=False), None, False,
                   empty_msg="No outliers found.")


def detect_outliers_today_mstl(df, now=None):
    """(catch.py:1450-1484) with injectable clock."""
    return _latest(detect_outliers_mstl(df, sentinel=False), now, True)


def detect_outliers_latest_mstl(df):
    """(catch.py:1487-1505)."""
    return _latest(detect_outliers_mstl(df, sentinel=False), None, False,
                   empty_msg="No outliers found.")


def detect_outliers_today_esd(df, now=None):
    return _latest(detect_outliers_esd(df, sentinel=False), now, True)


def detect_outliers_latest_esd(df):
    return _latest(detect_outliers_esd(df, sentinel=False), None, False,
                   empty_msg="No outliers found.")


# -------------------------------------------------- decomposition export

def build_monthwise_frame(df: pd.DataFrame) -> pd.DataFrame:
    """Data half of the reference's month-wise box plot
    (`reference/src/pycatcher/diagnostics.py:237-259`): the tidy
    (Month-Year, Count) frame seaborn draws, minus the plot (no
    matplotlib in this sandbox). First column is parsed as the date,
    second as the numeric count, exactly like the reference's
    `df_month` construction."""
    if not isinstance(df, pd.DataFrame):
        df = df.toPandas()
    out = pd.DataFrame({
        "Month-Year": pd.to_datetime(df.iloc[:, 0]).dt.to_period("M"),
        "Count": pd.to_numeric(df.iloc[:, 1]),
    })
    return out


def build_monthwise_stats(df: pd.DataFrame) -> pd.DataFrame:
    """Per-month box statistics over the build_monthwise_frame output —
    the numbers the box plot renders (quartiles, 1.5·IQR whiskers
    clipped to data, flier count). Matches tstoken.diagnostics
    .monthwise_box so the Spark tier and the pandas compat surface
    agree."""
    frame = build_monthwise_frame(df)

    def stats(g: pd.Series) -> pd.Series:
        q1, med, q3 = g.quantile([0.25, 0.5, 0.75], interpolation="linear")
        iqr = q3 - q1
        lo, hi = q1 - 1.5 * iqr, q3 + 1.5 * iqr
        # whiskers are ONE-sided (min of points >= lo; max of points
        # <= hi), exactly as diagnostics.monthwise_box computes them —
        # the old two-sided `inside` mask could return NaN on
        # degenerate months where Spark yields a value (round-2 ADVICE)
        above_lo = g[g >= lo]
        below_hi = g[g <= hi]
        return pd.Series({
            "n": len(g), "vmin": g.min(), "vmax": g.max(),
            "q1": q1, "median": med, "q3": q3,
            "whisker_lo": above_lo.min() if len(above_lo) else np.nan,
            "whisker_hi": below_hi.max() if len(below_hi) else np.nan,
            "n_fliers": int(((g < lo) | (g > hi)).sum())})

    return (frame.groupby("Month-Year")["Count"].apply(stats).unstack()
            .reset_index())


def build_decomposition_results(df: pd.DataFrame) -> pd.DataFrame | None:
    """4-column decomposition frame (diagnostics.py:322-388)."""
    df_pandas = _validate(df)
    df_pandas = df_pandas.copy()
    df_pandas.iloc[:, 0] = pd.to_datetime(df_pandas.iloc[:, 0])
    df_pandas = df_pandas.set_index(df_pandas.columns[0]).asfreq("D").dropna()
    if len(df_pandas.index) // 365.25 < 2.0:
        return None
    chosen, _ = _reference_decomposition(
        df_pandas.iloc[:, -1].to_numpy(dtype=np.float64), 7)
    return pd.DataFrame(
        {"seasonal": chosen.seasonal, "trend": chosen.trend,
         "residuals": chosen.resid, "actual_values": chosen.observed},
        index=df_pandas.index)


# ------------------------------------------------- stationarity check

def conduct_stationarity_check(df):
    """ADF + KPSS diagnostics with the reference's printed verdicts
    (diagnostics.py:262-319); returns the verdict dict for callers who
    want data instead of stdout."""
    from .stats.stationarity import stationarity_verdicts

    df_pandas = df.toPandas() if not isinstance(df, pd.DataFrame) else df
    series = pd.to_numeric(df_pandas.iloc[:, -1]).to_numpy(dtype=np.float64)
    v = stationarity_verdicts(series)
    print("ADF - The series is %sStationary"
          % ("" if v["adf_stationary"] else "not "))
    print()
    print("KPSS - The series is %sStationary"
          % ("" if v["kpss_stationary"] else "not "))
    return v
