"""Structured Streaming ingestion for the 1m tier.

The reference is pure batch (SURVEY.md §2.10); the north rule's
"continuous aggregates" get a streaming variant here: readStream →
watermarked tumbling-window aggregation → writeStream. It merges the
same doc rows (`rollup.doc_rows`) with the same aggregates
(`rollup.merged`, built from the one `rollup.MEASURES` spec) as the
batch `rollup_1m`, and emits exactly `ROLLUP_COLUMNS`, so the streaming
and batch 1m tiers agree column for column by construction.

The 1h/1d cascades stay batch-incremental (they re-aggregate closed 1m
buckets via the checkpoint ledger), which avoids multi-level streaming
state entirely — at 10^12 scale the finest tier is the only one that
needs sub-minute freshness.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (BooleanType, DoubleType, LongType,
                               StringType, StructField, StructType,
                               TimestampType)

from .rollup import ROLLUP_COLUMNS, doc_rows, merged, with_event_time


def streaming_rollup_1m(raw_stream: DataFrame,
                        watermark: str = "10 minutes") -> DataFrame:
    """tokens_raw stream → per-minute continuous aggregate.

    outputMode('update')-compatible: late rows inside the watermark
    re-emit their bucket; MERGE on (source, bucket_ts) downstream keeps
    the tier idempotent (same keys as the batch path).
    """
    df = with_event_time(raw_stream).withWatermark("event_ts", watermark)
    return (doc_rows(df, "source", "event_ts")
            .groupBy("source", F.window("event_ts", "1 minute").alias("win"))
            .agg(*merged())
            .withColumn("bucket_ts", F.col("win.start"))
            .withColumn("gap_filled", F.lit(False))
            .select(*ROLLUP_COLUMNS))


# ---------------------------------------- custom stateful operator

STREAM_FLAG_SCHEMA = StructType([
    StructField("source", StringType()),
    StructField("bucket_ts", TimestampType()),
    StructField("value", DoubleType()),
    StructField("is_outlier", BooleanType()),
    StructField("z", DoubleType()),
    StructField("n_seen", LongType()),
])

# Welford running moments per source: (count, mean, M2)
_STATE_SCHEMA = StructType([
    StructField("n", LongType()),
    StructField("mean", DoubleType()),
    StructField("m2", DoubleType()),
])


def streaming_zscore_flags(tier_stream: DataFrame,
                           value_col: str = "sum_n_tok",
                           threshold: float = 3.0,
                           min_history: int = 30) -> DataFrame:
    """Stateful streaming z-score detector over a rolled tier stream.

    The custom-stateful-operator surface of SURVEY §2.10:
    `applyInPandasWithState` keeps per-source Welford running moments
    (count, mean, M2) across micro-batches; each arriving bucket is
    scored against the statistics of all PRIOR buckets, then folded
    into the state. Memory is O(1) per source — 3 doubles — so state
    never grows with stream length; no watermark interaction (state
    never expires; pass a TTL timeout in production if sources churn).
    Buckets are processed in bucket_ts order within each batch, so a
    replay of the same batches is deterministic. The first
    `min_history` buckets per source only warm the state (never
    flagged): z against a 2-point history is noise.
    """
    import pandas as pd

    def fn(key, pdfs, state):
        if state.exists:
            n, mean, m2 = state.get
        else:
            n, mean, m2 = 0, 0.0, 0.0
        src = key[0]
        out = []
        # concatenate the batch's Arrow chunks BEFORE sorting: a group
        # larger than arrow.maxRecordsPerBatch arrives as multiple
        # chunks, and sorting each chunk independently would fold
        # later-chunk earlier-timestamp rows into state out of order
        chunks = [c for c in pdfs if len(c)]
        for pdf in ([pd.concat(chunks, ignore_index=True)] if chunks
                    else []):
            pdf = pdf.sort_values("bucket_ts")
            for ts, v in zip(pdf["bucket_ts"], pdf[value_col]):
                x = float(v)
                sd = (m2 / n) ** 0.5 if n > 1 else 0.0
                z = abs(x - mean) / sd if (n >= min_history and sd > 0) \
                    else 0.0
                out.append((src, ts, x, bool(z > threshold), z, n))
                n += 1
                delta = x - mean
                mean += delta / n
                m2 += delta * (x - mean)
        state.update((n, mean, m2))
        yield pd.DataFrame(out, columns=[f.name for f in
                                         STREAM_FLAG_SCHEMA.fields])

    return (tier_stream.groupBy("source")
            .applyInPandasWithState(fn, STREAM_FLAG_SCHEMA, _STATE_SCHEMA,
                                    "append", "NoTimeout"))
