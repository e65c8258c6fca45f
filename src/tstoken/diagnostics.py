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

from . import compat
from .detect import decomposable, per_source_series
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

    def fn(source, bucket_ts, x):
        if decomposable(x, period):
            dec, model = compat._classic_decomposition(x, period)
            seasonal, trend, resid = dec.seasonal, dec.trend, dec.resid
        else:
            seasonal = trend = resid = np.full(len(x), np.nan)
            model = "too_short"
        return pd.DataFrame({
            "source": source, "bucket_ts": bucket_ts, "observed": x,
            "seasonal": seasonal, "trend": trend, "resid": resid,
            "model": model})

    return per_source_series(rollup, value_col, fn, DECOMP_SCHEMA)
