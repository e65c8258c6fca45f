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

Detectors and scoring are bench.py's, shared through
`tstoken.jobs.pipeline` (`detector_roster`, `f1_scores`). Writes
BENCH/holdout_f1.json and prints one row per regime.

Run:  python BENCH/holdout_f1.py   (500k rows at local[N], N = the CPUs
      this process may use; ~4-6 min at N = 16. F1 does not depend on N.)
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

from tstoken.jobs.pipeline import CAMPAIGN_SOURCES as SOURCES  # noqa: E402

ROWS = 500_000
CPUS = len(os.sched_getaffinity(0))

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


def score_regime(spark, kwargs):
    from tstoken import synth
    from tstoken.gapfill import gap_fill
    from tstoken.jobs.pipeline import detector_roster, f1_scores
    from tstoken.rollup import rollup_1m

    gt_kwargs = {k: v for k, v in kwargs.items()
                 if k in ("seed", "anomaly_period", "zipf_exp")}
    raw = synth.generate_tokens_raw(spark, ROWS, n_sources=SOURCES,
                                    **kwargs)
    gf = gap_fill(rollup_1m(raw), "1m").localCheckpoint()
    truth = synth.ground_truth(spark, ROWS, n_sources=SOURCES,
                               **gt_kwargs)
    n_truth, f1 = f1_scores(detector_roster(gf), truth, gf)
    return {"n_truth": n_truth, **f1}


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
    for name, kwargs in REGIMES:
        t0 = time.time()
        r = score_regime(spark, kwargs)
        r["wall_sec"] = round(time.time() - t0, 1)
        results[name] = r
        print(f"{name:22s} " + " ".join(f"{k} {v}" for k, v in r.items()))
    held = [results[n]["ensemble"] for n, _ in REGIMES
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
                      f"{d['dip_threshold']})",
        "regimes": results,
        "ensemble_train": results["train(seed0)"]["ensemble"],
        "ensemble_heldout_min": min(held),
        "ensemble_heldout_max": max(held),
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
