"""Deterministic synthetic token-table generator (FIXTURES.md §A1).

Generates the exact `input_hint` schema
    (doc_id:string, tokens:array<int32>, n_tok:int32, source:string)
entirely with native Spark expressions — spark.range + higher-order
array functions, zero Python in the data path — so generation itself
scales to 10^12 rows on a cluster (each executor materializes its own
range slice; no shuffle).

All randomness is replaced by explicit integer mixing (LCG-style
constants) that is bit-reproducible in Spark SQL, NumPy and DuckDB, so
rollup oracles can regenerate rows exactly:

    seq        contiguous per source
    event_ts   T0 + seq * step(source), step = 3 + (src_idx*7) % 43 ∈ [3,45]s
    minute     (seq*step) // 60
    h1         (seq*1103515245 + src_idx*2654435761 + 12345) mod 2^31
    base       64 + h1 % 1985
    factor     1 + 0.3 sin(2π·minute_of_day/1440) + 0.1 sin(2π·minute_of_hour/60)
    anomaly    h2 = (minute*2654435761 + src_idx*97) mod 2^31
               planted iff h2 % 200 == 0 (×8 spike if h2 % 400 == 0 else ×0.125)
    gap        h3 = (minute*48271 + src_idx*131) mod 2^31; minute dropped iff
               h3 % 100 == 0 and not anomalous
    n_tok      max(1, floor(base · factor · mult))
    tokens     [(1000003·(seq·131 + i) + 17) mod 50257 for i in 0..n_tok-1]

`source` cardinality is Zipf-skewed with exponent 1.2 (src-000 holds
~35-43% of rows) to exercise a hot source in the 1m aggregation.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

T0 = "2024-01-01 00:00:00"
T0_EPOCH = 1704067200  # UTC
ZIPF_EXP = 1.2
M31 = 2147483648  # 2^31


def source_weights(n_sources: int, zipf_exp: float = ZIPF_EXP) -> np.ndarray:
    w = 1.0 / np.power(np.arange(1, n_sources + 1, dtype=np.float64), zipf_exp)
    return w / w.sum()


def rows_per_source(total_rows: int, n_sources: int,
                    zipf_exp: float = ZIPF_EXP) -> list[int]:
    w = source_weights(n_sources, zipf_exp)
    counts = np.floor(total_rows * w).astype(np.int64)
    counts[0] += total_rows - int(counts.sum())  # remainder to the hot key
    return [int(c) for c in counts]


def _mix_cols(src_idx, seq):
    """The deterministic per-row mixes, as Spark Column expressions."""
    h1 = F.pmod(seq * F.lit(1103515245) + src_idx * F.lit(2654435761) +
                F.lit(12345), F.lit(M31))
    return h1


def _case_chain(id_col, bounds, values):
    """values[i] for id in [bounds[i], bounds[i+1]); the last is the ELSE."""
    expr = None
    for i, v in enumerate(values[:-1]):
        cond = id_col < int(bounds[i + 1])
        expr = F.when(cond, v) if expr is None else expr.when(cond, v)
    return F.lit(values[-1]) if expr is None else expr.otherwise(values[-1])


def generate_tokens_raw(spark: SparkSession, total_rows: int,
                        n_sources: int = 8,
                        seed: int = 0,
                        anomaly_period: int = 200,
                        spike_mult: float = 8.0,
                        drop_mult: float = 0.125,
                        zipf_exp: float = ZIPF_EXP) -> DataFrame:
    """The 4-column tokens_raw table, fully Spark-native.

    One `spark.range` over the global row count with CASE-chain source
    assignment (sources occupy contiguous id ranges) — a single Range
    scan with uniform partitions, no per-source Union (a 16-way Union
    both skews partition sizes and trips a Spark 4.1 constraint-rewrite
    bug, `UnionBase.rewriteConstraints` NoSuchElementException, when a
    posexplode plan over the union is cached).

    Regime knobs (held-out detector validation, BENCH/holdout_f1.py):
    `seed` folds an offset into every hash mix so anomaly/gap/level
    placement is a fresh draw per seed; `anomaly_period` sets the
    planted rate (1 per `anomaly_period` minutes), `spike_mult` /
    `drop_mult` the magnitudes, `zipf_exp` the source skew. Defaults
    reproduce the original table bit-for-bit (seed=0 adds zero to each
    mix) — the DuckDB tok_* oracles and goldens depend on that."""
    counts = rows_per_source(total_rows, n_sources, zipf_exp)
    partitions = max(spark.sparkContext.defaultParallelism, 8)
    active = [(i, c) for i, c in enumerate(counts) if c > 0]
    bounds = np.cumsum([0] + [c for _, c in active])
    base = (spark.range(0, int(bounds[-1]),
                        numPartitions=max(1, min(partitions * 4,
                                                 int(bounds[-1]) // 10_000 + 1)))
            .withColumn("src_idx", _case_chain(
                F.col("id"), bounds, [i for i, _ in active]))
            .withColumn("seq", F.col("id") - _case_chain(
                F.col("id"), bounds, [int(b) for b in bounds[:-1]]))
            .withColumn("step", F.lit(3) + F.pmod(
                F.col("src_idx") * 7, F.lit(43))))

    seq = F.col("seq")
    src_idx = F.col("src_idx")
    minute = (seq * F.col("step")) / F.lit(60)
    minute = F.floor(minute).cast("long")

    h1 = F.pmod(_mix_cols(src_idx, seq) + F.lit(seed * 2246822519),
                F.lit(M31))
    h2 = F.pmod(minute * F.lit(2654435761) + src_idx * F.lit(97)
                + F.lit(seed * 1000000007), F.lit(M31))
    h3 = F.pmod(minute * F.lit(48271) + src_idx * F.lit(131)
                + F.lit(seed * 104729), F.lit(M31))

    minute_of_day = F.pmod(minute, F.lit(1440)).cast("double")
    minute_of_hour = F.pmod(minute, F.lit(60)).cast("double")
    two_pi = 2.0 * float(np.pi)
    factor = (F.lit(1.0)
              + F.lit(0.3) * F.sin(F.lit(two_pi) * minute_of_day / F.lit(1440.0))
              + F.lit(0.1) * F.sin(F.lit(two_pi) * minute_of_hour / F.lit(60.0)))

    anomalous = F.pmod(h2, F.lit(anomaly_period)) == 0
    spike = F.pmod(h2, F.lit(2 * anomaly_period)) == 0
    mult = F.when(anomalous & spike, F.lit(float(spike_mult))) \
            .when(anomalous, F.lit(float(drop_mult))).otherwise(F.lit(1.0))
    gap = (F.pmod(h3, F.lit(100)) == 0) & ~anomalous

    base_tok = (F.lit(64) + F.pmod(h1, F.lit(1985))).cast("double")
    n_tok = F.greatest(F.lit(1), F.floor(base_tok * factor * mult)).cast("int")

    # token i = pmod(a + 45120·i, 50257), as 1000003 mod 50257 = 45120: one
    # sequence over longs (45120·n_tok overflows an int from n_tok 47,596)
    a = F.lit(1000003 * 131) * seq + F.lit(17)
    out = (base
           .where(~gap)
           .withColumn("n_tok", n_tok)
           .withColumn("source", F.format_string("src-%03d", src_idx))
           .withColumn("doc_id", F.format_string("src-%03d-%012d", src_idx, seq))
           .withColumn(
               "tokens",
               F.transform(
                   F.sequence(a, a + F.lit(45120) * (F.col("n_tok").cast("long")
                                                     - 1), F.lit(45120)),
                   lambda t: F.pmod(t, F.lit(50257)).cast("int")))
           .select("doc_id", "tokens", "n_tok", "source"))
    return out


def source_digest() -> str:
    """sha256 of this module's source, the key of every staged table."""
    import hashlib
    return hashlib.sha256(__loader__.get_data(__file__)).hexdigest()


def stage_tokens_raw(spark: SparkSession, total_rows: int,
                     n_sources: int = 8) -> str:
    """Materialize the synthetic table to parquet once; return the path.

    Benchmarks read the staged table rather than fusing generation into
    the measured job: the production engine reads a stored Iceberg/
    parquet table (vectorized columnar scan), so measuring rollup
    throughput over `spark.read.parquet` is the faithful proxy, while
    inline generation is interpreted-expression-bound and would
    misattribute its cost to the rollup. The path under the temp dir
    is keyed by (rows, sources) and `source_digest()`, so an edit to the
    generator stages a fresh table; an existing table there is reused."""
    import os
    import tempfile

    path = os.path.join(tempfile.gettempdir(), f"tstoken_raw_{total_rows}"
                        f"_{n_sources}_{source_digest()[:12]}")
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        (generate_tokens_raw(spark, total_rows, n_sources=n_sources)
         .write.mode("overwrite").parquet(path))
    return path


def ground_truth(spark: SparkSession, total_rows: int,
                 n_sources: int = 8, seed: int = 0,
                 anomaly_period: int = 200,
                 zipf_exp: float = ZIPF_EXP) -> DataFrame:
    """(source, bucket_ts, kind) for every planted anomalous minute that
    has at least one generated row — the F1 ground truth (FIXTURES.md A1).
    Regime knobs must match the generate_tokens_raw call being scored."""
    counts = rows_per_source(total_rows, n_sources, zipf_exp)
    active = []
    for src_idx, n_rows in enumerate(counts):
        if n_rows == 0:
            continue
        step = 3 + (src_idx * 7) % 43
        active.append((src_idx, ((n_rows - 1) * step) // 60 + 1))
    bounds = np.cumsum([0] + [m for _, m in active])
    base = (spark.range(0, int(bounds[-1]))
            .withColumn("src_idx", _case_chain(
                F.col("id"), bounds, [i for i, _ in active]))
            .withColumn("minute", F.col("id") - _case_chain(
                F.col("id"), bounds, [int(b) for b in bounds[:-1]])))
    minute = F.col("minute")
    src_idx = F.col("src_idx")
    h2 = F.pmod(minute * F.lit(2654435761) + src_idx * F.lit(97)
                + F.lit(seed * 1000000007), F.lit(M31))
    anomalous = F.pmod(h2, F.lit(anomaly_period)) == 0
    kind = F.when(F.pmod(h2, F.lit(2 * anomaly_period)) == 0,
                  F.lit("spike")).otherwise(F.lit("drop"))
    return (base.where(anomalous)
            .select(F.format_string("src-%03d", src_idx).alias("source"),
                    F.timestamp_seconds(F.lit(T0_EPOCH) + minute * 60)
                     .alias("bucket_ts"),
                    kind.alias("kind")))


def generate_tokens_raw_pandas(total_rows: int, n_sources: int = 8,
                               seed: int = 0, anomaly_period: int = 200,
                               spike_mult: float = 8.0,
                               drop_mult: float = 0.125,
                               zipf_exp: float = ZIPF_EXP):
    """NumPy/pandas oracle for the same table — used by exactness tests.

    Must match generate_tokens_raw row-for-row (including token
    arrays), for EVERY regime knob combination, not just the defaults.
    """
    import pandas as pd

    counts = rows_per_source(total_rows, n_sources, zipf_exp)
    frames = []
    for src_idx, n_rows in enumerate(counts):
        if n_rows == 0:
            continue
        step = 3 + (src_idx * 7) % 43
        seq = np.arange(n_rows, dtype=np.int64)
        minute = (seq * step) // 60
        h1 = (seq * 1103515245 + src_idx * 2654435761 + 12345
              + seed * 2246822519) % M31
        h2 = (minute * 2654435761 + src_idx * 97
              + seed * 1000000007) % M31
        h3 = (minute * 48271 + src_idx * 131 + seed * 104729) % M31
        factor = (1.0 + 0.3 * np.sin(2 * np.pi * (minute % 1440) / 1440.0)
                  + 0.1 * np.sin(2 * np.pi * (minute % 60) / 60.0))
        anomalous = (h2 % anomaly_period) == 0
        spike = (h2 % (2 * anomaly_period)) == 0
        mult = np.where(anomalous & spike, float(spike_mult),
                        np.where(anomalous, float(drop_mult), 1.0))
        gap = ((h3 % 100) == 0) & ~anomalous
        base_tok = (64 + h1 % 1985).astype(np.float64)
        n_tok = np.maximum(1, np.floor(base_tok * factor * mult)).astype(np.int32)
        keep = ~gap
        seq, n_tok = seq[keep], n_tok[keep]
        src = f"src-{src_idx:03d}"
        frames.append(pd.DataFrame({
            "doc_id": [f"{src}-{s:012d}" for s in seq],
            "tokens": [((1000003 * (s * 131 + np.arange(t, dtype=np.int64))
                         + 17) % 50257).astype(np.int32)
                       for s, t in zip(seq, n_tok)],
            "n_tok": n_tok,
            "source": src,
            "seq": seq,
        }))
    return pd.concat(frames, ignore_index=True)
