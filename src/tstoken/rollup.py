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

from typing import Callable, NamedTuple

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .synth import T0_EPOCH

TIER_SECONDS = {"1m": 60, "1h": 3600, "1d": 86400}
# seasonal period per tier for decomposition detectors (SURVEY.md K11:
# fixed tiers ⇒ static period table — 1m→hourly cycle, 1h→daily, 1d→weekly)
TIER_PERIOD = {"1m": 60, "1h": 24, "1d": 7}
# multi-seasonal periods per tier (reference MSTL period tuples,
# catch.py:1231-1277, transposed to the fixed tiers: the 1m tier sees
# hourly + daily cycles, 1h daily + weekly, 1d weekly + yearly)
TIER_MSTL_PERIODS = {"1m": (60, 1440), "1h": (24, 168), "1d": (7, 365)}


def _per_doc(c: Column) -> Column:
    """A doc-level value, read once per doc: on its pos-0 token row."""
    return F.when(F.col("pos") == 0, c)


class Measure(NamedTuple):
    """A tier measure: its 1m aggregate over `token_rows`' rows, and the
    aggregate ("sum", "min" or "max") a coarser tier merges it with."""
    name: str
    agg_1m: Callable[[], Column]
    merge: str


# Declared once: rollup_1m, rollup_cascade, gap_fill and
# streaming.streaming_rollup_1m derive their columns and aggregates from
# MEASURES. F.sum skips the null sentinel tokens; the coalesce covers the
# all-empty-docs group (a sum over only nulls is null, must be 0) — per
# group, NOT a per-token branch: the token stream is the hot loop.
MEASURES = (
    Measure("n_docs", lambda: F.sum(_per_doc(F.lit(1))), "sum"),
    Measure("sum_n_tok",
            lambda: F.sum(_per_doc(F.col("n_tok").cast("long"))), "sum"),
    Measure("min_n_tok", lambda: F.min(_per_doc(F.col("n_tok"))), "min"),
    Measure("max_n_tok", lambda: F.max(_per_doc(F.col("n_tok"))), "max"),
    Measure("sum_tok_sq",
            lambda: F.coalesce(F.sum(F.col("tok").cast("long") * F.col("tok")),
                               F.lit(0).cast("long")), "sum"),
)
ROLLUP_COLUMNS = ["source", "bucket_ts", *(m.name for m in MEASURES),
                  "gap_filled"]


def with_event_time(raw: DataFrame) -> DataFrame:
    """Derive event_ts deterministically from (source, doc_id) — SURVEY
    §1.4: T0 + seq * step, where seq is doc_id's last '-' field and step
    is 3 + (7 × source index) mod 43 seconds."""
    seq = F.substring_index("doc_id", "-", -1).cast("long")
    step = F.lit(3) + F.pmod(F.substring("source", 5, 3).cast("int")
                             * F.lit(7), F.lit(43))
    return raw.withColumn(
        "event_ts",
        F.timestamp_seconds(F.lit(T0_EPOCH) + seq * step.cast("long")))


def bucket_col(event_ts: Column, tier: str) -> Column:
    secs = TIER_SECONDS[tier]
    epoch = event_ts.cast("long")
    return F.timestamp_seconds((epoch - F.pmod(epoch, F.lit(secs))))


def token_rows(df: DataFrame, *keys) -> DataFrame:
    """`keys`, n_tok, pos, tok: one row per token, the rows every 1m
    aggregate reads. An empty or null `tokens` array becomes one null
    sentinel, so the doc still has a pos-0 row and counts toward n_docs
    (round-1 ADVICE: zero-token docs are plausible in an arbitrary
    tokens_raw table, though synth always makes n_tok >= 1)."""
    toks = F.coalesce(F.col("tokens"), F.array().cast("array<int>"))
    padded = F.when(F.size(toks) == 0,
                    F.array(F.lit(None).cast("int"))).otherwise(toks)
    return df.select(*keys, "n_tok", F.posexplode(padded).alias("pos", "tok"))


def aggs_1m() -> list[Column]:
    """The 1m aggregate of every measure over `token_rows`' rows."""
    return [m.agg_1m().alias(m.name) for m in MEASURES]


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
    exactly once.

    One exchange feeds the (source, bucket_ts) aggregate (map-side
    partial aggregation spreads a hot source before it); a second one
    repartitions its output — ≤1 row per bucket — by `source`. That
    partitioning is the contract: `rollup_cascade`, `gap_fill` and the
    per-source detector windows inherit it instead of shuffling.
    `n_salts` is ignored, kept only so existing callers still run.
    """
    # bucket per doc, before the explode: not once per token
    df = with_event_time(raw).withColumn(
        "bucket_ts", bucket_col(F.col("event_ts"), "1m"))
    rows = token_rows(df, "source", "bucket_ts")
    return (rows.groupBy("source", "bucket_ts").agg(*aggs_1m())
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
            .agg(*[getattr(F, m.merge)(m.name).alias(m.name)
                   for m in MEASURES])
            .withColumn("gap_filled", F.lit(False))
            .select(*ROLLUP_COLUMNS))


def build_all_tiers(raw: DataFrame) -> dict[str, DataFrame]:
    t1m = rollup_1m(raw)
    t1h = rollup_cascade(t1m, "1h")
    t1d = rollup_cascade(t1h, "1d")
    return {"1m": t1m, "1h": t1h, "1d": t1d}
