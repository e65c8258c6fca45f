"""Calendar-spine gap-fill (SURVEY.md J1, reference analogue asfreq('D')
at diagnostics.py:339).

Per source, each row is followed by the empty buckets up to its source's
next observed bucket (a `lead` over the source's rows in bucket order),
generated with F.sequence + F.explode: the dense axis from min to max
observed bucket, with no join and nothing collected to the driver. Over
a source-partitioned tier (rollup.rollup_1m's output) the window plans
no exchange and the output keeps the partitioning for the detectors.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .rollup import MEASURES, TIER_SECONDS


def gap_fill(rollup: DataFrame, tier: str) -> DataFrame:
    """Densify a tier: emitted rows have gap_filled=true, zero additive
    (`sum`-merged) measures and null min/max."""
    secs = TIER_SECONDS[tier]
    own = F.col("bucket_ts").cast("long")
    nxt = F.lead(own).over(Window.partitionBy("source").orderBy("bucket_ts"))
    last = F.greatest(own, nxt - F.lit(secs))   # greatest skips a NULL
    spread = (rollup.withColumn("last", last)
              .select("source", own.alias("own"), *(m.name for m in MEASURES),
                      F.explode(F.sequence(own, F.col("last"), F.lit(secs)))
                      .alias("epoch")))
    # a bucket after the row's own is a hole: null measures, then zero
    # for the additive ones
    hole = F.col("epoch") != F.col("own")

    def fill(m):
        kept = F.when(~hole, F.col(m.name))
        return (F.coalesce(kept, F.lit(0)) if m.merge == "sum"
                else kept).alias(m.name)

    return spread.select("source",
                         F.timestamp_seconds("epoch").alias("bucket_ts"),
                         *map(fill, MEASURES), hole.alias("gap_filled"))
