"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR on
local[$SPARK_GRAFT_CPUS]; prints ONE JSON line.

Two groups:
  - driver-table queries (events/documents/embeddings) from
    __spark_entry__ — forced with a noop sink (full computation, no
    driver collect);
  - the token-engine pipeline (`tstoken.jobs.pipeline.token_pipeline`)
    at TSTOKEN_BENCH_ROWS synthetic rows (default 2M) over
    `CAMPAIGN_SOURCES` sources: staged parquet
    → 1m rollup → 1h → 1d cascades → gap-fill → IQR + MAD flags;
    reports rolled-up points/sec, the BASELINE.json metric, plus every
    iteration's wall (`tok_walls`) and phase split (`tok_phases`).

The `host` object records what pairs two runs as a same-host A/B:
`nproc`, the load average before and after, git HEAD and dirty flag.

Env knobs: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS, TSTOKEN_BENCH_ROWS.
Each headline query runs QUERY_ITERS times; the pipeline runs at least
MIN_ITERS and at most MAX_ITERS times within BUDGET_SEC seconds.
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
for p in (REPO, os.path.join(REPO, "src"), os.path.join(REPO, "perfbench")):
    if p not in sys.path:
        sys.path.insert(0, p)

QUERY_ITERS = 2
MIN_ITERS, MAX_ITERS, BUDGET_SEC = 4, 10, 300.0

HEADLINE = [
    "ev_rollup_1m", "ev_rollup_1h", "ev_gapfill_1h", "ev_iqr_flags_1h",
    "ev_mad_flags_1h", "ev_ma7_1h", "ev_optimal_window",
    "doc_token_counts", "doc_quality", "doc_ngram_jaccard",
    "doc_minhash_pairs", "emb_cosine_topk",
]


def force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def host_facts(loadavg_before: list[float]) -> dict:
    """What a same-host A/B needs to pair two records: the CPUs this
    process may run on, the 1/5/15-minute load before and after the
    run, and the git revision measured."""
    from host import git_state, loadavg
    return {"nproc": len(os.sched_getaffinity(0)),
            "loadavg_before": loadavg_before, "loadavg_after": loadavg(),
            **git_state(REPO)}


def main() -> dict:
    from host import loadavg
    load_before = loadavg()
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    bench_rows = int(os.environ.get("TSTOKEN_BENCH_ROWS", "2000000"))
    sf = sf_dir.rstrip("/").split("sf")[-1]

    import __spark_entry__ as entrymod
    from tstoken.session import get_spark

    spark = get_spark("tstoken-bench", master=f"local[{cpus}]",
                      shuffle_partitions=max(cpus, 8))
    spark.sparkContext.setLogLevel("ERROR")

    queries = entrymod.queries()
    timings: dict[str, float] = {}
    # min of N runs per query: single-shot timings on this shared VM
    # swing 2-5x with host contention (round-2's recorded +33% on
    # ev_optimal_window vanished on re-measure); each run rebuilds its
    # plan from a fresh spark.read, so nothing is reused but the JIT
    # profile and OS page cache — which IS steady state
    for name in HEADLINE:
        best = float("inf")
        for _ in range(QUERY_ITERS):
            t0 = time.time()
            force(queries[name](spark, sf_dir))
            best = min(best, time.time() - t0)
        timings[name] = round(best, 3)

    # token-engine pipeline (the north-rule metric): measured over a
    # STAGED parquet table (the stored-table read path — the 10^12-row
    # production shape), not fused inline generation
    from tstoken import synth
    from tstoken.jobs.pipeline import (CAMPAIGN_SOURCES, detector_roster,
                                       f1_scores, steady_wall,
                                       steady_walls, token_pipeline)
    staged = synth.stage_tokens_raw(spark, bench_rows,
                                    n_sources=CAMPAIGN_SOURCES)

    # adaptive iteration count (round-2 lesson: 3 iterations in a
    # contended window recorded 30.8 s where the pooled quiet-window
    # min was 15.6 s): at least MIN_ITERS, then the steady_walls
    # plateau rule, capped by count and a wall-clock budget
    walls, runs = steady_walls(
        lambda prev: token_pipeline(spark, staged, prev),
        min_iters=MIN_ITERS, max_iters=MAX_ITERS, budget=BUDGET_SEC)
    last = runs[-1]
    rolled_points = last["rolled_points"]
    tok_wall = steady_wall(walls)
    timings["tok_pipeline"] = round(tok_wall, 3)
    timings["tok_pipeline_cold"] = round(walls[0], 3)
    pps = rolled_points / tok_wall

    # anomaly-flag F1 vs planted ground truth (the BASELINE.json metric's
    # second component)
    _, f1s = f1_scores(detector_roster(last["gf"]),
                       synth.ground_truth(spark, bench_rows,
                                          n_sources=CAMPAIGN_SOURCES),
                       last["gf"])

    total = round(sum(v for k, v in timings.items()
                      if k != "tok_pipeline_cold"), 3)
    result = {
        "metric": "headline_queries_total_wall",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "cpus": cpus,
        "tok_bench_rows": bench_rows,
        "rolled_points": rolled_points,
        "rolled_points_per_sec": round(pps, 1),
        "raw_rows_per_sec": round(bench_rows / tok_wall, 1),
        "anomaly_flag_f1": f1s,
        "tok_walls": [round(w, 3) for w in walls],
        "tok_phases": [r["phases"] for r in runs],
        "host": host_facts(load_before),
    }
    spark.stop()
    print(json.dumps(result))
    return result


if __name__ == "__main__":
    main()
