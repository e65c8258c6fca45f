"""Continuous aggregates: 1m/1h/1d rollup tiers over tokens_raw.

Spark-first design (SURVEY.md A10, §4.2):
  - event time is DERIVED from doc_id's sequence encoding (SURVEY.md
    §1.4) so the stored schema stays exactly the 4-column input_hint;
  - the 1m tier is one aggregate per (source, bucket) whose output is
    hash-partitioned by `source` alone, so every per-source operator
    downstream (the 1h/1d cascades, the gap-fill `lead` window, the
    detectors' `Window.partitionBy("source")`) plans no shuffle of its
    own — the "repartitioning by source" of the north rule. Raw rows are
    never repartitioned: that would shuffle the fat `tokens` column and
    pin a Zipf-hot source's rows to one reducer. Spark's map-side partial
    aggregation already spreads key skew before the exchange
    (BENCH/BASELINE.md skew stress), so no salt level is needed;
  - 1h re-aggregates 1m, 1d re-aggregates 1h (associative sums/counts/
    min/max only — the ROLLUP-cascade equivalent; averages derive at read);
  - token-derived statistics (sum of squared token ids) are computed
    once, at the 1m tier, by a native `posexplode` aggregate — the fat
    `tokens` array is never read again above 1m (column pruning).

All tier measures are integer (count/sum/min/max of int64) ⇒ rollups
are exactly reproducible — the BASELINE "rolled-up points must match
exactly" criterion.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .synth import T0_EPOCH

TIER_SECONDS = {"1m": 60, "1h": 3600, "1d": 86400}
TIER_ORDER = ["1m", "1h", "1d"]
# seasonal period per tier for decomposition detectors (SURVEY.md K11:
# fixed tiers ⇒ static period table — 1m→hourly cycle, 1h→daily, 1d→weekly)
TIER_PERIOD = {"1m": 60, "1h": 24, "1d": 7}
# multi-seasonal periods per tier (reference MSTL period tuples,
# catch.py:1231-1277, transposed to the fixed tiers: the 1m tier sees
# hourly + daily cycles, 1h daily + weekly, 1d weekly + yearly)
TIER_MSTL_PERIODS = {"1m": (60, 1440), "1h": (24, 168), "1d": (7, 365)}

ROLLUP_COLUMNS = ["source", "bucket_ts", "n_docs", "sum_n_tok",
                  "min_n_tok", "max_n_tok", "sum_tok_sq", "gap_filled"]


def src_idx_col(source: Column = None) -> Column:
    src = source if source is not None else F.col("source")
    return F.substring(src, 5, 3).cast("int")


def seq_col(doc_id: Column = None) -> Column:
    d = doc_id if doc_id is not None else F.col("doc_id")
    return F.substring_index(d, "-", -1).cast("long")  # last '-' field = seq


def step_col(source: Column = None) -> Column:
    return (F.lit(3) + F.pmod(src_idx_col(source) * F.lit(7), F.lit(43)))


def with_event_time(raw: DataFrame) -> DataFrame:
    """Derive event_ts deterministically from (source, doc_id) — SURVEY §1.4."""
    seq = seq_col()
    step = step_col()
    return raw.withColumn(
        "event_ts",
        F.timestamp_seconds(F.lit(T0_EPOCH) + seq * step.cast("long")))


def bucket_col(event_ts: Column, tier: str) -> Column:
    secs = TIER_SECONDS[tier]
    epoch = event_ts.cast("long")
    return F.timestamp_seconds((epoch - F.pmod(epoch, F.lit(secs))))


def rollup_1m(raw: DataFrame, n_salts: int | None = None) -> DataFrame:
    """tokens_raw → 1m tier, hash-partitioned by `source`.

    Token-derived statistics use `posexplode` + whole-stage-codegen
    native aggregation rather than an interpreted `F.aggregate` lambda:
    the flattened stream stays in primitive unsafe-row form end to end
    (no per-element boxing), which both runs ~10× faster per core and
    SCALES with cores — the interpreted higher-order path is
    allocation-bound and anti-scales beyond ~8 threads in one JVM.
    Doc-level measures (count/sum/min/max of n_tok) piggyback on the
    same single scan via `pos = 0` guards, so the raw table is read
    exactly once. Empty or null `tokens` arrays are padded with a
    single null sentinel element before the explode so every doc still
    contributes a pos-0 row — rollup_1m is the public ingest for
    arbitrary tokens_raw tables, where zero-token docs are plausible
    and must count toward n_docs (round-1 ADVICE; the synth generator's
    `n_tok >= 1` invariant never exercises this).

    One exchange feeds the (source, bucket_ts) aggregate (map-side
    partial aggregation spreads a hot source before it); a second one
    repartitions its output — ≤1 row per bucket — by `source`. That
    partitioning is the contract: `rollup_cascade`, `gap_fill` and the
    per-source detector windows inherit it instead of shuffling.
    `n_salts` is ignored, kept only so existing callers still run.
    """
    toks = F.coalesce(F.col("tokens"), F.array().cast("array<int>"))
    padded = F.when(F.size(toks) == 0,
                    F.array(F.lit(None).cast("int"))).otherwise(toks)
    df = (with_event_time(raw)
          .withColumn("bucket_ts", bucket_col(F.col("event_ts"), "1m"))
          .select("source", "bucket_ts", "n_tok",
                  F.posexplode(padded).alias("pos", "tok")))
    first = F.col("pos") == 0
    # F.sum skips the null sentinel tokens; coalesce covers the
    # all-empty-docs group (sum over only-nulls -> null, must be 0).
    # Per-group coalesce, NOT a per-token branch — the token stream is
    # the hot loop.
    return (df.groupBy("source", "bucket_ts")
            .agg(F.sum(F.when(first, 1)).alias("n_docs"),
                 F.sum(F.when(first, F.col("n_tok").cast("long")))
                  .alias("sum_n_tok"),
                 F.min(F.when(first, F.col("n_tok"))).alias("min_n_tok"),
                 F.max(F.when(first, F.col("n_tok"))).alias("max_n_tok"),
                 F.coalesce(
                     F.sum(F.col("tok").cast("long") * F.col("tok")),
                     F.lit(0).cast("long")).alias("sum_tok_sq"))
            .withColumn("gap_filled", F.lit(False))
            .select(*ROLLUP_COLUMNS)
            .repartition("source"))


def rollup_cascade(finer: DataFrame, tier: str) -> DataFrame:
    """Re-aggregate a finer tier into `tier` (1m→1h or 1h→1d).

    Gap-filled zero rows are excluded so min/max stay exact. Over a
    source-partitioned input (the 1m tier, or a cascade of it) the
    aggregate plans no exchange and its output keeps that partitioning.
    """
    src = finer.filter(~F.col("gap_filled"))
    return (src
            .groupBy("source", bucket_col(F.col("bucket_ts"), tier).alias("bucket_ts"))
            .agg(F.sum("n_docs").alias("n_docs"),
                 F.sum("sum_n_tok").alias("sum_n_tok"),
                 F.min("min_n_tok").alias("min_n_tok"),
                 F.max("max_n_tok").alias("max_n_tok"),
                 F.sum("sum_tok_sq").alias("sum_tok_sq"))
            .withColumn("gap_filled", F.lit(False))
            .select(*ROLLUP_COLUMNS))


def build_all_tiers(raw: DataFrame) -> dict[str, DataFrame]:
    t1m = rollup_1m(raw)
    t1h = rollup_cascade(t1m, "1h")
    t1d = rollup_cascade(t1h, "1d")
    return {"1m": t1m, "1h": t1h, "1d": t1d}
