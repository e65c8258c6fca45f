"""Held-out validation of the anomaly-flag F1 (VERDICT r3 next-round #1).

The extrema-ensemble thresholds (detect.extrema_ensemble_flags:
avg 3.5 / spike 3.5 / dip 8.0) were tuned on the bench's planted
generator (seed 0, rate 1/200, x8 spikes / x0.125 drops, zipf 1.2).
This harness re-scores every bench detector with thresholds FROZEN on
regimes the tuning never saw:

  - three fresh seeds of the training regime (tests seed overfit);
  - rarer+weaker anomalies (1/400, x5 / x0.2);
  - denser+stronger anomalies (1/100, x12 / x0.08);
  - heavier source skew (zipf 1.6).

Scoring mirrors bench.py exactly: predictions exclude gap-filled
buckets; truth is restricted to minutes present in the rolled tier;
per-(source, minute) set precision/recall. Writes
BENCH/holdout_f1.json and prints one row per regime.

Run:  python BENCH/holdout_f1.py          (~4-6 min, local[16])
Env:  TSTOKEN_HOLDOUT_ROWS (default 500000), TSTOKEN_HOLDOUT_CPUS (16)
"""

import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
for p in (REPO, os.path.join(REPO, "src")):
    if p not in sys.path:
        sys.path.insert(0, p)

ROWS = int(os.environ.get("TSTOKEN_HOLDOUT_ROWS", "500000"))
CPUS = int(os.environ.get("TSTOKEN_HOLDOUT_CPUS", "16"))
SOURCES = 16  # bench geometry

# (name, generator/ground-truth kwargs) — seed 0 row is the TRAINING
# regime, reported for reference; every other row is held-out
REGIMES = [
    ("train(seed0)", {}),
    ("seed1", {"seed": 1}),
    ("seed2", {"seed": 2}),
    ("seed3", {"seed": 3}),
    ("rare-weak(seed4)", {"seed": 4, "anomaly_period": 400,
                          "spike_mult": 5.0, "drop_mult": 0.2}),
    ("dense-strong(seed5)", {"seed": 5, "anomaly_period": 100,
                             "spike_mult": 12.0, "drop_mult": 0.08}),
    ("skew1.6(seed6)", {"seed": 6, "zipf_exp": 1.6}),
]

DETECTORS = ("iqr", "mad", "stl", "stl_z", "mad_avg", "stl_z_avg",
             "ensemble", "ensemble_adaptive")


def score_regime(spark, kwargs):
    from pyspark.sql import functions as F

    from tstoken import detect, synth
    from tstoken.gapfill import gap_fill
    from tstoken.rollup import rollup_1m

    gt_kwargs = {k: v for k, v in kwargs.items()
                 if k in ("seed", "anomaly_period", "zipf_exp")}
    raw = synth.generate_tokens_raw(spark, ROWS, n_sources=SOURCES,
                                    **kwargs)
    gf = gap_fill(rollup_1m(raw), "1m").localCheckpoint()
    gt = (synth.ground_truth(spark, ROWS, n_sources=SOURCES, **gt_kwargs)
          .select("source", "bucket_ts").distinct()
          .join(gf.select("source", "bucket_ts"),
                ["source", "bucket_ts"], "left_semi").cache())
    n_truth = gt.count()
    gaps = gf.filter("gap_filled").select("source", "bucket_ts")
    gfr = gf.withColumn(
        "avg_n_tok",
        F.when(F.col("n_docs") > 0,
               F.col("sum_n_tok").cast("double") / F.col("n_docs"))
        .otherwise(F.lit(0.0)))
    flags = {
        "iqr": detect.iqr_flags(gf),
        "mad": detect.mad_flags(gf),
        "stl": detect.grouped_flags(gf, "1m", "stl"),
        "stl_z": detect.grouped_flags(gf, "1m", "stl_z"),
        "mad_avg": detect.mad_flags(gfr, value_col="avg_n_tok"),
        "stl_z_avg": detect.grouped_flags(gfr, "1m", "stl_z",
                                          value_col="avg_n_tok"),
        # thresholds FROZEN at the library defaults tuned on seed-0
        "ensemble": detect.extrema_ensemble_flags(gf),
        # round-5 OPT-IN variant: density-adaptive dip fence (lower
        # threshold for sparse sources); the frozen-default column
        # above is unchanged and must reproduce its round-4 numbers
        "ensemble_adaptive": detect.extrema_ensemble_flags(
            gf, adaptive_dip=True),
    }
    out = {"n_truth": n_truth}
    for name in DETECTORS:
        pred = (flags[name].filter("is_outlier")
                .select("source", "bucket_ts")
                .join(gaps, ["source", "bucket_ts"], "left_anti")
                .distinct().cache())
        n_pred = pred.count()
        tp = pred.join(gt, ["source", "bucket_ts"], "left_semi").count()
        prec = tp / max(n_pred, 1)
        rec = tp / max(n_truth, 1)
        out[name] = round(2 * prec * rec / max(prec + rec, 1e-9), 4)
        pred.unpersist()
    gt.unpersist()
    return out


def main():
    from tstoken.session import get_spark

    spark = get_spark("tstoken-holdout-f1", master=f"local[{CPUS}]",
                      shuffle_partitions=CPUS)
    spark.sparkContext.setLogLevel("ERROR")
    try:
        commit = subprocess.run(
            ["git", "-C", REPO, "rev-parse", "--short", "HEAD"],
            capture_output=True, text=True).stdout.strip()
    except OSError:
        commit = "unknown"
    results = {}
    hdr = f"{'regime':22s} {'truth':>6s} " + " ".join(
        f"{d:>10s}" for d in DETECTORS)
    print(hdr)
    for name, kwargs in REGIMES:
        t0 = time.time()
        r = score_regime(spark, kwargs)
        r["wall_sec"] = round(time.time() - t0, 1)
        results[name] = r
        print(f"{name:22s} {r['n_truth']:6d} "
              + " ".join(f"{r[d]:10.4f}" for d in DETECTORS)
              + f"   ({r['wall_sec']}s)")
    held = [results[n]["ensemble"] for n, _ in REGIMES
            if n != "train(seed0)"]
    held_ad = [results[n]["ensemble_adaptive"] for n, _ in REGIMES
               if n != "train(seed0)"]
    # thresholds come from the code, not hard-coded prose
    import inspect
    from tstoken.detect import extrema_ensemble_flags
    d = {k: par.default for k, par in
         inspect.signature(extrema_ensemble_flags).parameters.items()}
    summary = {
        "rows": ROWS, "sources": SOURCES, "cpus": CPUS,
        "commit": commit,
        "thresholds": f"FROZEN library defaults (avg {d['avg_threshold']}"
                      f" / spike {d['spike_threshold']} / dip "
                      f"{d['dip_threshold']}); adaptive column is the "
                      "OPT-IN adaptive_dip=True variant (dip "
                      f"{d['adaptive_dip_low']} when median docs/bucket "
                      f"<= {d['adaptive_dip_max_density']})",
        "regimes": results,
        "ensemble_train": results["train(seed0)"]["ensemble"],
        "ensemble_heldout_min": min(held),
        "ensemble_heldout_max": max(held),
        "ensemble_adaptive_train":
            results["train(seed0)"]["ensemble_adaptive"],
        "ensemble_adaptive_heldout_min": min(held_ad),
        "ensemble_adaptive_heldout_max": max(held_ad),
    }
    out = os.path.join(REPO, "BENCH", "holdout_f1.json")
    with open(out, "w") as f:
        json.dump(summary, f, indent=1)
        f.write("\n")
    print(f"\nensemble: train {summary['ensemble_train']}, "
          f"held-out [{summary['ensemble_heldout_min']}, "
          f"{summary['ensemble_heldout_max']}] -> {out}")
    spark.stop()


if __name__ == "__main__":
    main()
