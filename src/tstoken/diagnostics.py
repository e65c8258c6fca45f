"""Data-only diagnostics parity (SURVEY.md §2.9 / round-1 verdict
"what's missing" #1).

The reference's diagnostics module is mostly matplotlib plot builders
(`reference/src/pycatcher/diagnostics.py:58,196,237,391,...`); the
sandbox has no matplotlib, so this module implements the DATA halves —
the exact frames those plots draw — as native Spark operators:

  - monthwise_box: per (source, month) box-plot statistics, the data
    behind `build_monthwise_plot` (diagnostics.py:237-259), computed
    with one exact-percentile window and one aggregate
    (SQL-expressible → oracled).
  - decompose_tier: per-source seasonal/trend/resid/observed export
    over a rolled tier, the Spark analogue of
    `build_decomposition_results` (diagnostics.py:322-388) — classic
    additive/multiplicative decomposition auto-selected by SSACF, one
    grouped Arrow UDF per source (bounded series, never raw rows).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (DoubleType, StringType, StructField,
                               StructType, TimestampType)

from .rollup import TIER_PERIOD

DECOMP_SCHEMA = StructType([
    StructField("source", StringType()),
    StructField("bucket_ts", TimestampType()),
    StructField("observed", DoubleType()),
    StructField("seasonal", DoubleType()),
    StructField("trend", DoubleType()),
    StructField("resid", DoubleType()),
    StructField("model", StringType()),
])


def monthwise_box(daily: DataFrame, value_col: str = "n_events",
                  ts_col: str = "bucket_ts") -> DataFrame:
    """Per-(source, month) box-plot statistics.

    Data half of the reference's month-wise box plot
    (`diagnostics.py:237-259`): seaborn's boxplot over (Month-Year,
    Count) reduces to exactly these aggregates — quartiles with linear
    interpolation (matplotlib's default), 1.5·IQR whiskers clipped to
    the data, and the count of fliers. One shuffle on (source, month):
    an exact-percentile window attaches the quartiles to every point,
    then one aggregate reduces each month.
    """
    v = F.col(value_col).cast("double")
    pts = daily.select(
        "source", F.date_trunc("month", F.col(ts_col)).alias("month"),
        v.alias("v"))
    q = F.percentile(F.col("v"), F.array(F.lit(0.25), F.lit(0.5), F.lit(0.75)))
    pts = pts.select("*", q.over(Window.partitionBy("source", "month"))
                     .alias("q"))
    v, q1, q3 = F.col("v"), F.col("q")[0], F.col("q")[2]
    lo, hi = q1 - 1.5 * (q3 - q1), q3 + 1.5 * (q3 - q1)
    # q is constant per (source, month), so grouping by it adds no
    # shuffle; whiskers = extreme data points inside the fences,
    # fliers = points outside
    return (pts.groupBy("source", "month", "q")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.min(v).alias("vmin"), F.max(v).alias("vmax"),
                 F.min(F.when(v >= lo, v)).alias("whisker_lo"),
                 F.max(F.when(v <= hi, v)).alias("whisker_hi"),
                 F.sum(F.when((v < lo) | (v > hi), 1).otherwise(0))
                 .alias("n_fliers"))
            .select("source", "month", "n", "vmin", "vmax",
                    q1.alias("q1"), F.col("q")[1].alias("median"),
                    q3.alias("q3"), "whisker_lo", "whisker_hi", "n_fliers"))


def decompose_tier(rollup: DataFrame, tier: str,
                   value_col: str = "sum_n_tok") -> DataFrame:
    """Per-source decomposition export over a rolled tier.

    Spark analogue of `build_decomposition_results`
    (`reference/src/pycatcher/diagnostics.py:322-388`): classic
    seasonal decomposition, additive vs multiplicative chosen by the
    smaller residual SSACF (the reference's selector, catch.py
    semantics via tstoken.compat), emitted as one tidy frame
    (observed/seasonal/trend/resid + chosen model) per source.
    """
    period = TIER_PERIOD[tier]

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        from . import compat
        from .stats.decompose import seasonal_decompose

        pdf = pdf.sort_values("bucket_ts").reset_index(drop=True)
        x = pdf["value"].to_numpy(dtype=np.float64)
        n = len(x)
        if n < 2 * period + 1:
            nan = np.full(n, np.nan)
            return pd.DataFrame({
                "source": pdf["source"], "bucket_ts": pdf["bucket_ts"],
                "observed": x, "seasonal": nan, "trend": nan,
                "resid": nan, "model": "too_short"})
        dec_a = seasonal_decompose(x, "additive", period=period)
        model = "additive"
        dec = dec_a
        if np.all(x > 0):
            dec_m = seasonal_decompose(x, "multiplicative", period=period)
            if compat.get_ssacf(compat.get_residuals(dec_a)) \
                    >= compat.get_ssacf(compat.get_residuals(dec_m)):
                dec, model = dec_m, "multiplicative"
        return pd.DataFrame({
            "source": pdf["source"], "bucket_ts": pdf["bucket_ts"],
            "observed": dec.observed, "seasonal": dec.seasonal,
            "trend": dec.trend, "resid": dec.resid, "model": model})

    src = rollup.select("source", "bucket_ts",
                        F.col(value_col).cast("double").alias("value"))
    return src.groupBy("source").applyInPandas(fn, schema=DECOMP_SCHEMA)
