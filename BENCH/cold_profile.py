"""Root-cause the tok_pipeline cold/steady gap (VERDICT r3 #6).

BENCH_r03 recorded tok_pipeline_cold 61.3 s vs steady 16.7 s at sf0.1.
Hypotheses: (a) generic JVM/codegen infrastructure warm-up (JIT of
Spark's own classes — would be absorbed by ANY prior job); (b)
plan-shape-specific JIT (only repeating the SAME pipeline warms it);
(c) Python worker spin-up / Arrow init; (d) parquet footer reads on
first touch of the staged table.

Design: two fresh processes over the same staged table.

  mode=cold    pipeline immediately, 3 iterations, per-phase walls
               (`tstoken.jobs.pipeline.token_pipeline`)
  mode=warmed  run an UNRELATED warm-up job first (groupBy-agg over a
               synthetic range — exercises codegen, shuffle, parquet
               write/read machinery, but a different plan shape), then
               the same 3 pipeline iterations

If warmed-iter1 ≈ cold-iter2, the gap is generic infra warm-up (a);
if warmed-iter1 ≈ cold-iter1, it is plan-specific (b). Phase walls
localize the cost. Writes one JSON line per mode; cold_profile.json
aggregates via --both (runs each mode as a subprocess, sequentially).
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

ROWS = int(os.environ.get("TSTOKEN_BENCH_ROWS", "2000000"))
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
ITERS = 3


def run_mode(mode: str) -> dict:
    from pyspark.sql import functions as F

    from tstoken import synth
    from tstoken.jobs.pipeline import CAMPAIGN_SOURCES, token_pipeline
    from tstoken.session import get_spark

    spark = get_spark(f"tstoken-coldprof-{mode}", master=f"local[{CPUS}]",
                      shuffle_partitions=max(CPUS, 8))
    spark.sparkContext.setLogLevel("ERROR")
    staged = synth.stage_tokens_raw(spark, ROWS, n_sources=CAMPAIGN_SOURCES)

    if mode == "warmed":
        # unrelated plan shape: range -> wide agg -> shuffle -> collect
        t0 = time.time()
        (spark.range(0, 20_000_000)
         .withColumn("k", F.pmod(F.col("id") * 2654435761, F.lit(997)))
         .withColumn("v", F.sin(F.col("id").cast("double")))
         .groupBy("k").agg(F.sum("v"), F.avg("v"), F.max("v"))
         .orderBy("k").count())
        warmup_wall = time.time() - t0
    else:
        warmup_wall = 0.0

    runs = []
    for _ in range(ITERS):
        runs.append(token_pipeline(spark, staged,
                                   runs[-1] if runs else None))
    iters = [r["phases"] for r in runs]
    out = {"mode": mode, "rows": ROWS, "cpus": CPUS,
           "warmup_wall": round(warmup_wall, 3),
           "session_to_first_total": round(
               iters[0]["total"] + warmup_wall, 3),
           "iters": iters, "rolled_points": runs[-1]["rolled_points"]}
    spark.stop()
    return out


def main():
    if "--both" in sys.argv:
        results = {}
        for mode in ("cold", "warmed"):
            r = subprocess.run(
                [sys.executable, os.path.abspath(__file__), mode],
                capture_output=True, text=True)
            lines = [ln for ln in r.stdout.splitlines()
                     if ln.startswith("{")]
            if r.returncode != 0 or not lines:
                raise RuntimeError(
                    f"{mode} child failed (rc={r.returncode}); "
                    f"stderr tail: {r.stderr[-2000:]}")
            results[mode] = json.loads(lines[-1])
        out = os.path.join(REPO, "BENCH", "cold_profile.json")
        with open(out, "w") as f:
            json.dump(results, f, indent=1)
            f.write("\n")
        print(json.dumps(results, indent=1))
        return
    mode = sys.argv[1] if len(sys.argv) > 1 else "cold"
    print(json.dumps(run_mode(mode)))


if __name__ == "__main__":
    main()
