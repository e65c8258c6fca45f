"""Retention policies per tier (north rule: "retention policies").

Each tier keeps a sliding horizon of buckets; expired buckets are
dropped with a partition/metadata-friendly predicate on bucket_ts
(Iceberg: metadata delete; parquet fallback: filtered rewrite —
see tableio.delete_where). Horizons follow the usual telemetry shape:
fine tiers are short-lived, coarse tiers long-lived.
"""

from __future__ import annotations

from datetime import datetime, timedelta, timezone

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import TimestampType

from .tableio import TableIO

# default horizons (None = keep forever)
DEFAULT_HORIZONS: dict[str, timedelta | None] = {
    "1m": timedelta(days=7),
    "1h": timedelta(days=90),
    "1d": None,
}


def retention_horizon(tier: str, now: datetime,
                      horizons: dict | None = None) -> datetime | None:
    h = (horizons or DEFAULT_HORIZONS).get(tier)
    return None if h is None else now - h


def apply_retention(io: TableIO, tier: str, now: datetime | None = None,
                    horizons: dict | None = None) -> int | None:
    """Delete expired buckets from rollup_<tier>; returns new snapshot id."""
    now = now or datetime.now(timezone.utc)
    cutoff = retention_horizon(tier, now, horizons)
    if cutoff is None:
        return None
    table = f"rollup_{tier}"
    if not io.exists(table):
        return None
    # epoch microseconds, converted as F.lit converts `cutoff` (naive =
    # local time), so the session time zone cannot move the cutoff
    pred = f"bucket_ts < timestamp_micros({TimestampType().toInternal(cutoff)})"
    return io.delete_where(table, pred)


def filter_retained(df: DataFrame, tier: str, now: datetime,
                    horizons: dict | None = None) -> DataFrame:
    """Retention as a read-side predicate (partition-prunable)."""
    cutoff = retention_horizon(tier, now, horizons)
    if cutoff is None:
        return df
    return df.filter(F.col("bucket_ts") >= F.lit(cutoff))
