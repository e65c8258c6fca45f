"""The measured token pipeline: one body, one steady-state loop.

The pipeline is staged parquet -> `rollup_1m` -> 1h/1d cascades ->
`gap_fill` -> fused IQR+MAD flags. `bench.py`, `BENCH/scaling.py` and
`BENCH/cold_profile.py` all time it through `token_pipeline`, and
`steady_walls` is the one rule for when repeated runs have reached a
steady state. `detector_roster` and `f1_scores` are the one set of
scored detectors and the one F1 scorer that `bench.py` and
`BENCH/holdout_f1.py` report.

Fresh-process campaign, prints one JSON line. It runs as a module or,
since it imports `tstoken` by absolute name, as a spark-submit script;
either way it pins `local[<cpus>]`, and `get_spark` ships `tstoken` to
the workers once the driver imports it (`PYTHONPATH=src`, `--py-files`):

    PYTHONPATH=src python -m tstoken.jobs.pipeline <cpus> <rows> <iters>
    spark-submit --py-files tstoken.zip src/tstoken/jobs/pipeline.py \
        <cpus> <rows> <iters>
"""

from __future__ import annotations

import json
import sys
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tstoken import detect, gapfill, rollup
from tstoken.session import get_spark
from tstoken.synth import stage_tokens_raw

CAMPAIGN_SOURCES = 16
CAMPAIGN_MAX_ITERS = 24


def token_pipeline(spark: SparkSession, staged: str,
                   prev: dict | None = None) -> dict:
    """Run the pipeline once over the staged parquet table at `staged`.

    `prev` is the previous run's result: its persisted 1m tier is
    unpersisted first, since Spark's CacheManager substitutes cached
    data into canonically-equal new plans and would turn this run into
    a cache read. Returns the rolled-point count (1m + 1h + 1d rows),
    per-phase walls in seconds, the still-persisted 1m tier `t1m` and
    the gap-filled tier `gf` built on it.
    """
    if prev is not None:
        prev["t1m"].unpersist(blocking=True)
    t0 = time.time()
    t1m = rollup.rollup_1m(spark.read.parquet(staged)).persist()
    n_1m = t1m.count()
    t1 = time.time()
    t1h = rollup.rollup_cascade(t1m, "1h").persist()
    n_1h = t1h.count()
    n_1d = rollup.rollup_cascade(t1h, "1d").count()
    t1h.unpersist()
    t2 = time.time()
    gf = gapfill.gap_fill(t1m, "1m")
    iqr, mad = detect.iqr_flags(gf), detect.mad_flags(gf)
    # both detectors forced in ONE action: the union's branches schedule
    # as concurrent stages of a single job instead of two back-to-back
    # barriers (measured ~15-20% off the pipeline wall at 2M rows /
    # local[32])
    (iqr.select("source", "bucket_ts", F.lit("iqr").alias("m"), "is_outlier")
     .unionByName(mad.select("source", "bucket_ts", F.lit("mad").alias("m"),
                             "is_outlier"))
     .write.format("noop").mode("overwrite").save())
    t3 = time.time()
    phases = {"rollup_1m": t1 - t0, "cascades": t2 - t1,
              "gapfill_flags": t3 - t2, "total": t3 - t0}
    return {"rolled_points": n_1m + n_1h + n_1d,
            "phases": {k: round(v, 3) for k, v in phases.items()},
            "t1m": t1m, "gf": gf}


def detector_roster(gf: DataFrame) -> dict[str, DataFrame]:
    """The scored detectors by name, over the gap-filled 1m tier `gf`.

    IQR and MAD fences and grouped STL / STL-z on `sum_n_tok`; MAD and
    STL-z on tokens per document (`avg_n_tok`, 0 on empty buckets): the
    planted anomalies scale per-document token counts, and the ratio
    cancels the doc-arrival noise of sparse sources; and the extrema
    ensemble over the order-statistic columns.
    """
    avg = gf.withColumn(
        "avg_n_tok",
        F.when(F.col("n_docs") > 0,
               F.col("sum_n_tok").cast("double") / F.col("n_docs"))
        .otherwise(F.lit(0.0)))
    return {
        "iqr": detect.iqr_flags(gf),
        "mad": detect.mad_flags(gf),
        "stl": detect.grouped_flags(gf, "1m", "stl"),
        "stl_z": detect.grouped_flags(gf, "1m", "stl_z"),
        "mad_avg": detect.mad_flags(avg, value_col="avg_n_tok"),
        "stl_z_avg": detect.grouped_flags(avg, "1m", "stl_z",
                                          value_col="avg_n_tok"),
        "ensemble": detect.extrema_ensemble_flags(gf),
    }


def f1_scores(flags: dict[str, DataFrame], truth: DataFrame,
              gf: DataFrame) -> tuple[int, dict[str, float]]:
    """Set F1 of each flag frame's outlier (source, bucket_ts) keys
    against the planted `truth` keys, on the gap-filled tier `gf`.

    Gap-filled buckets are dropped from the predictions: a zero bucket
    is a data-quality signal carried by `gap_filled`, and the generator
    never plants an anomaly on a gapped minute, so it could only be a
    false positive. Truth is restricted to the tier's observed minutes.
    Returns the truth count and {name: F1 rounded to 4 dp}.
    """
    key = ["source", "bucket_ts"]
    gaps = gf.filter(F.col("gap_filled")).select(*key)
    gt = (truth.select(*key).distinct()
          .join(gf.filter(~F.col("gap_filled")).select(*key), key,
                "left_semi").cache())
    n_truth = gt.count()
    f1 = {}
    for name, fl in flags.items():
        pred = (fl.filter("is_outlier").select(*key)
                .join(gaps, key, "left_anti").distinct().cache())
        n_pred = pred.count()
        tp = pred.join(gt, key, "left_semi").count()
        prec, rec = tp / max(n_pred, 1), tp / max(n_truth, 1)
        f1[name] = round(2 * prec * rec / max(prec + rec, 1e-9), 4)
        pred.unpersist()
    gt.unpersist()
    return n_truth, f1


def steady_walls(run, min_iters: int, max_iters: int,
                 budget: float) -> tuple[list[float], list]:
    """Call `run(prev_result)` until its walls reach a steady state.

    Early runs carry one-time JVM JIT compilation, so the steady wall is
    the min of the post-first walls. Runs at least `min_iters` times,
    then stops once that min improved by less than 2% over the last two
    runs, or at `max_iters` runs, or once `budget` seconds have passed.
    A steady min SLOWER than the cold first run is host contention (JIT
    warmup only ever helps), so the loop keeps going toward a quiet
    patch instead of stopping on the plateau. The plateau compares a
    window beyond the warmup and the last two runs, so below 4 runs it
    stops at once: `min_iters` <= 3 is a plain fixed count. Returns the
    walls and the results of every run.
    """
    walls, results = [], []
    prev = None
    loop_t0 = time.time()
    while True:
        t0 = time.time()
        prev = run(prev)
        walls.append(time.time() - t0)
        results.append(prev)
        n = len(walls)
        if n >= max_iters or (n >= min_iters
                              and time.time() - loop_t0 > budget):
            break
        if n >= min_iters and n >= 2:
            best = min(walls[1:])
            if best > walls[0]:
                continue
            if best >= 0.98 * min(walls[1:-2] or walls[1:]):
                break
    return walls, results


def steady_wall(walls: list[float]) -> float:
    """The steady-state wall: min of the post-first walls."""
    return min(walls[1:]) if len(walls) > 1 else walls[0]


def main(argv: list[str]) -> dict:
    if len(argv) != 3:
        sys.exit("usage: python -m tstoken.jobs.pipeline "
                 "<cpus> <rows> <iters>")
    cpus, rows, iters = (int(a) for a in argv)
    spark = get_spark("tstoken-pipeline-campaign", master=f"local[{cpus}]")
    spark.sparkContext.setLogLevel("ERROR")
    staged = stage_tokens_raw(spark, rows, n_sources=CAMPAIGN_SOURCES)
    walls, results = steady_walls(
        lambda prev: token_pipeline(spark, staged, prev),
        min_iters=iters, max_iters=CAMPAIGN_MAX_ITERS, budget=float("inf"))
    walls = [round(w, 2) for w in walls]
    best = steady_wall(walls)
    points = results[-1]["rolled_points"]
    out = {"cpus": cpus, "rows": rows, "walls": walls, "wall_sec": best,
           "phases": [r["phases"] for r in results],
           "rolled_points": points,
           "points_per_sec": round(points / best, 1),
           "raw_rows_per_sec": round(rows / best, 1)}
    spark.stop()
    print(json.dumps(out))
    return out


if __name__ == "__main__":
    main(sys.argv[1:])
