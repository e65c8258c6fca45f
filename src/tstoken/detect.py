"""Anomaly detectors over rolled-up tiers.

Two layers (SURVEY.md §7.3):
  - NATIVE detectors (IQR, z-score, MAD, moving-average + CV window
    search): pure pyspark.sql expressions — whole-stage codegen, no
    Python in the data path. These are exact reimplementations of the
    reference's fence math (catch.py:124-165, 186, 216-235, 743-947).
    Every per-source statistic (quartiles, mean/std, median/MAD) is a
    Window.partitionBy("source") aggregate attached to each row, so a
    detector reads its input once: one shuffle, no join back. The only
    broadcast join left is ma_flags' CV window pick, which aggregates
    a different row set (the test folds).
  - GROUPED Arrow-UDF detectors (classic/STL/MSTL/ESD and the
    engine-native stl_z): one NumPy kernel per method in KERNELS, run
    by per_source_series (one applyInPandas group per source's rolled
    series), which stationarity_check and diagnostics.decompose_tier
    also use. IQR is native only; a series too short to decompose, or
    whose kernel raises ValueError (a too-flat STL/MSTL residual, ESD
    on a constant series), falls back to IQR fences scored exactly as
    iqr_flags scores them, labeled "iqr_fallback". classic picks its
    model with compat._classic_decomposition, as decompose_tier does,
    and falls back when that model's residual is flat in the series' units.

Flag schema (FIXTURES.md A2): (source, bucket_ts, method, is_outlier,
score). All buckets are emitted with a boolean, not just the hits.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (BooleanType, DoubleType, StringType,
                               StructField, StructType, TimestampType)

from . import compat
from .rollup import TIER_MSTL_PERIODS, TIER_PERIOD
from .stats.dispersion import iqr_fences, mad_scores, zscore
from .stats.esd import generalized_esd, seasonal_esd
from .stats.mstl import mstl_fit
from .stats.normality import shapiro
from .stats.stationarity import stationarity_verdicts
from .stats.stl import stl_fit

FLAG_SCHEMA = StructType([
    StructField("source", StringType()),
    StructField("bucket_ts", TimestampType()),
    StructField("method", StringType()),
    StructField("is_outlier", BooleanType()),
    StructField("score", DoubleType()),
])

VALUE_COL = "sum_n_tok"


def _flags_select(df: DataFrame, method: str, flag, score) -> DataFrame:
    return df.select(
        "source", "bucket_ts", F.lit(method).alias("method"),
        flag.alias("is_outlier"), score.cast("double").alias("score"))


# ------------------------------------------------------------------ IQR

def iqr_flags(rollup: DataFrame, value_col: str = VALUE_COL) -> DataFrame:
    """Per-source IQR fences, fully native (catch.py:150-157 semantics:
    exact linear-interpolation percentiles, fences ±1.5·IQR)."""
    v = F.col(value_col).cast("double")
    q = F.percentile(v, F.array(F.lit(0.25), F.lit(0.75)))
    j = rollup.select("source", "bucket_ts", v.alias("v"),
                      q.over(Window.partitionBy("source")).alias("q"))
    v, q1, q3 = F.col("v"), F.col("q")[0], F.col("q")[1]
    iqr = q3 - q1
    lo, hi = q1 - 1.5 * iqr, q3 + 1.5 * iqr
    dist = F.greatest(lo - v, v - hi, F.lit(0.0))
    score = F.when(iqr > 0, dist / iqr).otherwise(dist)
    return _flags_select(j, "iqr", (v < lo) | (v > hi), score)


# -------------------------------------------------------------- z-score

def zscore_flags(rollup: DataFrame, value_col: str = VALUE_COL,
                 threshold: float = 2.0) -> DataFrame:
    """|population z| > 2 per source (catch.py:186)."""
    v = F.col(value_col).cast("double")
    src = Window.partitionBy("source")
    j = rollup.select("source", "bucket_ts", v.alias("v"),
                      F.avg(v).over(src).alias("mu"),
                      F.stddev_pop(v).over(src).alias("sd"))
    z = F.when(F.col("sd") > 0,
               F.abs((F.col("v") - F.col("mu")) / F.col("sd"))) \
         .otherwise(F.lit(0.0))
    return _flags_select(j, "zscore", z > threshold, z)


# ------------------------------------------------------------------ MAD

def _mad_fences(df: DataFrame, cols: dict[str, str]) -> DataFrame:
    """Append ad_<t> = |c - median(c)| and mad_<t> = median(ad_<t>) per
    source for every {t: c}. The two median windows share the (source)
    partitioning, so the plan carries one shuffle and no join."""
    src = Window.partitionBy("source")
    med = df.select("*", *[
        F.percentile(c, F.lit(0.5)).over(src).alias(f"med_{t}")
        for t, c in cols.items()])
    ad = med.select("*", *[F.abs(F.col(c) - F.col(f"med_{t}")).alias(f"ad_{t}")
                           for t, c in cols.items()])
    return ad.select("*", *[
        F.percentile(f"ad_{t}", F.lit(0.5)).over(src).alias(f"mad_{t}")
        for t in cols])


def _mad_score(t: str) -> F.Column:
    """0.6745·ad/MAD; a zero MAD scores 1e308 off the median, 0 on it."""
    ad, mad = F.col(f"ad_{t}"), F.col(f"mad_{t}")
    return F.when(mad > 0, F.lit(0.6745) * ad / mad) \
            .otherwise(F.when(ad > 0, F.lit(1e308)).otherwise(F.lit(0.0)))


def mad_flags(rollup: DataFrame, value_col: str = VALUE_COL,
              threshold: float = 3.5) -> DataFrame:
    """Modified z-score 0.6745·|x-med|/MAD > 3.5 (catch.py:216-235),
    as two per-source median windows — no UDF (SURVEY.md A3)."""
    v = F.col(value_col).cast("double")
    j = _mad_fences(rollup.select("source", "bucket_ts", v.alias("v")),
                    {"v": "v"})
    score = _mad_score("v")
    return _flags_select(j, "mad", score > threshold, score)


# --------------------------------------------------------- moving average

_MA_WINDOWS = list(range(2, 21))


def _ma_base(rollup: DataFrame, value_col: str, n_splits: int) -> DataFrame:
    v = F.col(value_col).cast("double")
    w_src = Window.partitionBy("source").orderBy("bucket_ts")
    n_w = Window.partitionBy("source")
    base = (rollup.select("source", "bucket_ts", v.alias("v"))
            .withColumn("idx", F.row_number().over(w_src) - 1)
            .withColumn("n", F.count(F.lit(1)).over(n_w))
            .withColumn("test_size", (F.col("n") / (n_splits + 1)).cast("int")))
    # TimeSeriesSplit fold id of each row (null = never in a test fold)
    fold_raw = F.floor((F.col("idx") - (F.col("n") - n_splits * F.col("test_size")))
                       / F.col("test_size"))
    return base.withColumn(
        "fold",
        F.when((F.col("test_size") >= 1) & (fold_raw >= 0), fold_raw))


def optimal_window(rollup: DataFrame, value_col: str = VALUE_COL,
                   n_splits: int = 5) -> DataFrame:
    """(source, wstar): CV-optimal MA window, fully native (SURVEY.md K9:
    19 window aggregates in one pass + stack + argmin, no UDF, no
    driver loop — the reference's 19×5-fold pandas search collapsed
    into one shuffle)."""
    windows = _MA_WINDOWS
    base = _ma_base(rollup, value_col, n_splits)
    # per-fold trailing MAs for all candidate windows (one shuffle total:
    # the window functions share the (source) partitioning)
    fold_win = Window.partitionBy("source", "fold").orderBy("bucket_ts")
    test = base.filter(F.col("fold").isNotNull())
    ma_cols = []
    for w in windows:
        frame = fold_win.rowsBetween(-(w - 1), 0)
        ma = F.when(F.count("v").over(frame) == w, F.avg("v").over(frame))
        ma_cols.append(ma.alias(f"ma_{w}"))
    test = test.select("source", "fold", "v", *ma_cols)

    stack_expr = "stack({}, {}) as (w, ma)".format(
        len(windows), ", ".join(f"{w}, ma_{w}" for w in windows))
    melted = test.selectExpr("source", "fold", "v", stack_expr)
    fold_rmse = (melted.filter(F.col("ma").isNotNull())
                 .groupBy("source", "w", "fold")
                 .agg(F.sqrt(F.avg(F.pow(F.col("v") - F.col("ma"), 2)))
                      .alias("rmse")))
    mean_rmse = fold_rmse.groupBy("source", "w").agg(F.avg("rmse").alias("mean_rmse"))
    pick = Window.partitionBy("source").orderBy(F.col("mean_rmse").asc(),
                                                F.col("w").asc())
    return (mean_rmse.withColumn("rk", F.row_number().over(pick))
            .filter(F.col("rk") == 1).select("source", F.col("w").alias("wstar")))


def ma_flags(rollup: DataFrame, value_col: str = VALUE_COL,
             n_splits: int = 5) -> DataFrame:
    """Moving-average detector with CV-optimal window, fully native.

    Reference semantics (catch.py:743-947): optimal w ∈ [2,20] minimizes
    the mean RMSE of a trailing rolling(w).mean() over 5 TimeSeriesSplit
    test folds (rolling restarted inside each fold, min_periods=w); the
    final flags are |z| > 2 on the w*-rolling mean of the whole series.
    """
    windows = _MA_WINDOWS
    w_src = Window.partitionBy("source").orderBy("bucket_ts")
    base = _ma_base(rollup, value_col, n_splits)
    wstar = optimal_window(rollup, value_col, n_splits)

    # full-series MAs for every candidate window, picked by wstar
    full_cols = []
    for w in windows:
        frame = w_src.rowsBetween(-(w - 1), 0)
        ma = F.when(F.count("v").over(frame) == w, F.avg("v").over(frame))
        full_cols.append(ma.alias(f"ma_{w}"))
    full = base.select("source", "bucket_ts", "v", *full_cols) \
               .join(F.broadcast(wstar), "source")
    chosen = F.element_at(F.array(*[F.col(f"ma_{w}") for w in windows]),
                          F.col("wstar").cast("int") - 1)
    full = full.withColumn("ma", chosen)

    # z-score of the MA series (NaN head skipped, population std)
    n_w = Window.partitionBy("source")
    j = full.select("source", "bucket_ts", "ma",
                    F.avg("ma").over(n_w).alias("mu"),
                    F.stddev_pop("ma").over(n_w).alias("sd"))
    z = F.when(F.col("ma").isNull(), F.lit(None).cast("double")) \
         .when(F.col("sd") > 0, F.abs((F.col("ma") - F.col("mu")) / F.col("sd"))) \
         .otherwise(F.lit(0.0))
    return _flags_select(j.withColumn("z", z), "ma",
                         F.coalesce(F.col("z") > 2.0, F.lit(False)), F.col("z"))


# ------------------------------------------------ extrema ensemble

def extrema_ensemble_flags(rollup: DataFrame, half_window: int = 30,
                           avg_threshold: float = 3.5,
                           spike_threshold: float = 3.5,
                           dip_threshold: float = 8.0) -> DataFrame:
    """Engine-native ensemble over the rollup's order-statistic columns
    (no reference counterpart; SURVEY §2.9 K14 family). Fully native —
    window aggregates + MAD fences, no Python in the data path.

    A level-shift anomaly in a bucket rescales EVERY document in it, so
    beyond the mean ratio (sum_n_tok/n_docs) it also shifts the bucket
    extremes: a spike lifts min_n_tok above the per-source typical
    floor, a dip caps max_n_tok far below the typical ceiling — and the
    extremes stay informative on sparse buckets where the mean ratio
    drowns in document-sampling noise. Three robust fences, OR-ed:

      1. MAD modified-z on avg tokens/doc (the round-1 mad_ratio row);
      2. MAD on log min_n_tok detrended by a +-half_window rolling mean
         (spike side — typical-floor exceedance);
      3. MAD on detrended log max_n_tok, NEGATIVE side only, with a
         deep threshold (dip side — the low tail of single-document
         buckets is long, so only far-below-ceiling counts).

    Thresholds were selected on the synthetic bench's planted-anomaly
    sweep (BENCH_r02; avg 3.5 / spike 3.5 / dip 8.0 -> F1 0.83 vs 0.68
    for the best single detector) — disclosed tuning, same protocol as
    the round-1 engine-native rows. Rolling-mean detrending absorbs
    seasonality; log scale makes x8 spikes and x1/8 dips symmetric.
    """
    ng = rollup
    if "gap_filled" in rollup.columns:
        ng = rollup.filter(~F.col("gap_filled"))
    w = Window.partitionBy("source").orderBy("bucket_ts") \
        .rowsBetween(-half_window, half_window)
    avg_v = F.col("sum_n_tok").cast("double") / F.col("n_docs")
    lmin = F.log(F.col("min_n_tok").cast("double") + 1.0)
    lmax = F.log(F.col("max_n_tok").cast("double") + 1.0)
    feat = (ng.select("source", "bucket_ts", avg_v.alias("avg_n_tok"),
                      lmin.alias("lmin"), lmax.alias("lmax"))
            .withColumn("d_min", F.col("lmin") - F.avg("lmin").over(w))
            .withColumn("d_max", F.col("lmax") - F.avg("lmax").over(w)))

    # All three MAD fences share one two-select window pass over feat,
    # on the partitioning feat's rolling window already has. Fence math
    # is identical to mad_flags.
    j = _mad_fences(feat, {"a": "avg_n_tok", "s": "d_min", "d": "d_max"})

    s_a, s_s, s_d = _mad_score("a"), _mad_score("s"), _mad_score("d")
    flag = (s_a > avg_threshold) | (s_s > spike_threshold) \
        | ((s_d > dip_threshold) & (F.col("d_max") < 0))
    score = F.greatest(s_a, s_s, s_d)
    out = _flags_select(j, "extrema_ensemble", flag, score)
    if "gap_filled" in rollup.columns:
        # flag contract: EVERY input bucket gets a boolean (module
        # docstring / FIXTURES A2). Gap-filled buckets carry no
        # statistical signal (zero docs, null extremes) — emit them as
        # non-outliers instead of dropping them from the frame.
        gaps = rollup.filter(F.col("gap_filled"))
        out = out.unionByName(_flags_select(
            gaps, "extrema_ensemble", F.lit(False), F.lit(0.0)))
    return out


# ------------------------------------------- grouped Arrow-UDF detectors

def per_source_series(rollup: DataFrame, value_col: str, fn,
                      schema: StructType) -> DataFrame:
    """`fn(source, bucket_ts, x)` once per source, as one grouped Arrow
    UDF: `bucket_ts` is the source's sorted buckets (a pandas Series),
    `x` their `value_col` as float64, and `fn` returns a pandas frame
    of `schema`. Each group is one rolled series, bounded by bucket
    count (<= ~10^5 points/tier), never raw rows (SURVEY.md §4.1)."""
    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("bucket_ts").reset_index(drop=True)
        return fn(pdf["source"].iloc[0], pdf["bucket_ts"],
                  pdf["value"].to_numpy(dtype=np.float64))

    src = rollup.select("source", "bucket_ts",
                        F.col(value_col).cast("double").alias("value"))
    return src.groupBy("source").applyInPandas(run, schema=schema)


def decomposable(x: np.ndarray, period: int) -> bool:
    """At least two full cycles plus one point: shorter series are not
    decomposed (the grouped detectors fall back, decompose_tier says
    "too_short")."""
    return len(x) >= 2 * period + 1


def _iqr_fallback(x: np.ndarray):
    """iqr_flags' fences and scores: the distance outside a fence in
    IQRs (the fences span 4 IQRs), or the distance itself when the IQR
    is 0."""
    lo, hi = iqr_fences(x)
    iqr = (hi - lo) / 4.0
    dist = np.maximum(np.maximum(lo - x, x - hi), 0.0)
    return (x < lo) | (x > hi), dist / iqr if iqr > 0 else dist


def _nondegenerate(resid: np.ndarray, x: np.ndarray) -> np.ndarray:
    """`resid`, or ValueError (-> iqr_fallback) when the decomposition
    absorbed the series."""
    if compat._degenerate_decomposition(resid, x):
        raise ValueError("degenerate decomposition")
    return resid


def _stl_resid(x: np.ndarray, period: int) -> np.ndarray:
    fit = stl_fit(x, period=period, seasonal=period + (period % 2 == 0))
    return _nondegenerate(fit.resid, x)


def _stl(x, period, mstl_periods):
    return compat.dispersion_flags(_stl_resid(x, period))


def _stl_z(x, period, mstl_periods):
    # engine-native: STL residuals + fixed |z| > 2 (the reference's z
    # branch, K6, applied unconditionally; threshold catch.py:1156, not
    # tuned). The MC-Shapiro gate takes that branch when its p > 0.05,
    # and a LOW Shapiro W (heavy tails) gives p near 1, so "stl" equals
    # "stl_z" whenever p > 0.05. They differ only on residuals that
    # look normal (high W, p <= 0.05), which the gate sends to MAD.
    z = np.abs(zscore(_stl_resid(x, period)))
    return z > 2.0, z


def _mstl(x, period, mstl_periods):
    usable = tuple(p for p in (mstl_periods or (period,))
                   if len(x) > 2 * p)
    s = mad_scores(_nondegenerate(
        mstl_fit(x, periods=usable or (period,)).resid, x))
    return s > 3.5, s


def _classic(x, period, mstl_periods):
    dec, model = compat._classic_decomposition(x, period)
    # judged in x's units: a multiplicative resid is a ratio near 1
    _nondegenerate(x - dec.trend * dec.seasonal if model == "multiplicative"
                   else dec.resid, x)
    s = mad_scores(dec.resid)
    return s > 3.5, s


def _esd(x, period, mstl_periods):
    n = len(x)
    if shapiro(x)[1] > 0.05:
        idx = generalized_esd(x, max_anomalies=n // 20)
    else:
        idx = seasonal_esd(x, periodicity=period, max_anomalies=n // 20,
                           hybrid=True)
    flags = np.zeros(n, dtype=bool)
    flags[list(idx)] = True
    return flags, flags.astype(np.float64)


# method -> kernel(x, period, mstl_periods) -> (flags, score)
KERNELS = {"stl": _stl, "stl_z": _stl_z, "mstl": _mstl,
           "classic": _classic, "esd": _esd}
GROUPED_METHODS = tuple(KERNELS)


def grouped_flags(rollup: DataFrame, tier: str, method: str,
                  value_col: str = VALUE_COL) -> DataFrame:
    """`method`'s flags per source (KERNELS), via per_source_series.

    A series too short to decompose, or whose kernel raises ValueError
    (a degenerate decomposition: constant series, zero residual
    spread), falls back to IQR fences and SAYS SO: the output `method`
    column reads "iqr_fallback", never the requested method (round-1
    verdict #3 — a silent fallback would ship wrong-but-plausible flags
    on a kernel regression). Only the known degenerate path
    (ValueError) falls back; any other kernel error propagates and
    fails the query loudly.
    """
    if method not in KERNELS:
        raise ValueError(f"unknown method {method}")
    kernel, period = KERNELS[method], TIER_PERIOD[tier]
    mstl_periods = TIER_MSTL_PERIODS.get(tier)

    def fn(source, bucket_ts, x):
        label = method
        try:
            if not decomposable(x, period):
                raise ValueError("too short to decompose")
            flags, score = kernel(x, period, mstl_periods)
        except ValueError:
            label = "iqr_fallback"
            flags, score = _iqr_fallback(x)
        return pd.DataFrame({
            "source": source, "bucket_ts": bucket_ts, "method": label,
            "is_outlier": flags,
            "score": np.nan_to_num(score, posinf=1e308, neginf=-1e308),
        })

    return per_source_series(rollup, value_col, fn, FLAG_SCHEMA)


STATIONARITY_SCHEMA = StructType([
    StructField("source", StringType()),
    StructField("adf_stat", DoubleType()),
    StructField("adf_p", DoubleType()),
    StructField("adf_usedlag", DoubleType()),
    StructField("adf_stationary", BooleanType()),
    StructField("kpss_stat", DoubleType()),
    StructField("kpss_p", DoubleType()),
    StructField("kpss_lags", DoubleType()),
    StructField("kpss_stationary", BooleanType()),
])


def stationarity_check(rollup: DataFrame,
                       value_col: str = VALUE_COL) -> DataFrame:
    """Per-source ADF + KPSS diagnostics over rolled series
    (SURVEY.md K12; reference `diagnostics.py:262-319`), OLS via
    numpy.linalg.lstsq inside."""
    def fn(source, bucket_ts, x):
        v = stationarity_verdicts(x)
        return pd.DataFrame([{"source": source, **{
            k: val if isinstance(val, bool) else float(val)
            for k, val in v.items()}}])

    return per_source_series(rollup, value_col, fn, STATIONARITY_SCHEMA)
