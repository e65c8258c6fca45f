"""Per-partition checkpoint ledger: lineage + throughput metrics + resume.

North rule: "resumable from per-partition checkpoints carrying lineage +
throughput metrics". The ledger is itself a table (FIXTURES.md A2):

    ledger(tier, source, chunk, input_snapshot, rows_in, rows_out,
           wall_ms, points_per_sec, finished_at)

A work unit is (tier, source, chunk) where chunk is the day index of the
bucket (no tier bucket spans days, so a unit keeps its chunk across
tiers). `run_incremental_rollup` reads the ledger once; a candidate is
pending when its tier's ledger lacks it. 1m candidates are the distinct
units of raw's `doc_id`/`source` projection; a cascade's are its source
tier's ledger units, including those recorded earlier in the same call
(the ledger, not the table, vouches for a unit). Only pending units'
input rows are rolled up; a tier with nothing pending runs no Spark job.
NULL-keyed units never match the ledger (SURVEY.md J3): always pending.
Tier writes replace the pending units' rows, so replaying a unit is
idempotent (byte-identical tiers).
"""

from __future__ import annotations

import time
from datetime import datetime, timezone

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (IntegerType, LongType, DoubleType, StringType,
                               StructField, StructType, TimestampType)

from .tableio import TableIO

LEDGER_TABLE = "ledger"
LEDGER_SCHEMA = StructType([
    StructField("tier", StringType()),
    StructField("source", StringType()),
    StructField("chunk", IntegerType()),      # day index since epoch
    StructField("input_snapshot", StringType()),
    StructField("rows_in", LongType()),
    StructField("rows_out", LongType()),
    StructField("wall_ms", LongType()),
    StructField("points_per_sec", DoubleType()),
    StructField("finished_at", TimestampType()),
])


def chunk_col() -> F.Column:
    return F.floor(F.col("bucket_ts").cast("long") / F.lit(86400)).cast("int")


def read_ledger(io: TableIO) -> DataFrame:
    if io.exists(LEDGER_TABLE):
        return io.read(LEDGER_TABLE)
    return io.spark.createDataFrame([], LEDGER_SCHEMA)


def _in_units(units: set) -> Column:
    """Row is in one of `units` ((source, chunk) pairs): an exact string-key
    InSet. NULL-keyed rows always are, as their units are always pending."""
    key = F.concat(F.col("source"), F.lit("|"), F.col("chunk").cast("string"))
    return key.isNull() | key.isin(
        [f"{s}|{c}" for s, c in units if s is not None and c is not None])


def record_units(io: TableIO, tier: str, units_with_counts: DataFrame,
                 input_snapshot: str, wall_ms: int) -> None:
    """Append finished units (source, chunk, rows_in, rows_out) in one
    write; throughput is the step's total rows_out over its wall."""
    total = F.sum("rows_out").over(Window.partitionBy())
    pps = total / F.lit(wall_ms / 1000.0) if wall_ms > 0 else F.lit(0.0)
    rows = (units_with_counts.coalesce(1)   # one row per unit: no shuffle
            .withColumn("tier", F.lit(tier))
            .withColumn("input_snapshot", F.lit(input_snapshot))
            .withColumn("wall_ms", F.lit(wall_ms).cast("long"))
            .withColumn("points_per_sec", pps.cast("double"))
            .withColumn("finished_at", F.lit(datetime.now(timezone.utc)))
            .select([f.name for f in LEDGER_SCHEMA.fields]))
    io.append(LEDGER_TABLE, rows, partition_by=("tier",))


def _commit(io: TableIO, tier: str, units: set, work: DataFrame,
            input_snapshot: str, t0: float, done: set) -> None:
    """Merge `work` (the rows of `units`) into rollup_<tier>; record units."""
    table = f"rollup_{tier}"
    work = work.withColumn("chunk", chunk_col()).cache()
    merged = (io.read(table).filter(~_in_units(units)).unionByName(work)
              if io.exists(table) else work)
    io.overwrite(table, merged, partition_by=("source",))
    counts = work.groupBy("source", "chunk").agg(
        F.sum("n_docs").alias("rows_in"), F.count(F.lit(1)).alias("rows_out"))
    record_units(io, tier, counts, input_snapshot,
                 int((time.time() - t0) * 1000))
    work.unpersist()
    done.update((tier, *u) for u in units)


def run_incremental_rollup(spark: SparkSession, io: TableIO, raw: DataFrame,
                           n_salts: int | None = None) -> dict[str, int]:
    """Checkpointed tier build: only pending (source, chunk) units are
    (re)computed, from their own input rows; tier writes replace the units'
    rows ⇒ idempotent. Returns per-tier counts of processed units.
    `n_salts` is ignored, kept only so existing callers still run."""
    from .rollup import bucket_col, rollup_1m, rollup_cascade, with_event_time

    done = {tuple(r) for r in
            read_ledger(io).select("tier", "source", "chunk").collect()}

    def pending(tier: str, candidates: set) -> set:
        return {u for u in candidates if None in u or (tier, *u) not in done}

    def with_chunk(df: DataFrame) -> DataFrame:   # raw + its 1m unit chunk
        return with_event_time(df).withColumn(
            "bucket_ts", bucket_col(F.col("event_ts"), "1m")) \
            .withColumn("chunk", chunk_col())

    # ---- 1m from raw: candidates from a projection that never reads tokens
    t0 = time.time()
    cand = {tuple(r) for r in with_chunk(raw.select("doc_id", "source"))
            .select("source", "chunk").distinct().collect()}
    pend = pending("1m", cand)
    if pend:
        src = raw if pend == cand else \
            with_chunk(raw).filter(_in_units(pend)).select(*raw.columns)
        _commit(io, "1m", pend, rollup_1m(src), "raw", t0, done)
    processed = {"1m": len(pend)}

    # ---- cascades: candidates are the source tier's ledger units
    for src_tier, tier in (("1m", "1h"), ("1h", "1d")):
        t0 = time.time()
        pend = pending(tier, {u[1:] for u in done if u[0] == src_tier})
        if pend:
            src = f"rollup_{src_tier}"
            work = io.read(src).filter(_in_units(pend)).drop("chunk")
            _commit(io, tier, pend, rollup_cascade(work, tier),
                    f"{src}@{io.snapshot_id(src)}", t0, done)
        processed[tier] = len(pend)
    return processed
