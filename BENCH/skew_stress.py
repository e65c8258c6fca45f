"""Adversarial skew stress for the 1m rollup (round-5 VERDICT item #4 —
the north rule's "repartitioning by source handles skewed key
cardinalities" claim, measured instead of asserted).

Three staged tables, all fresh-process measured (min of post-first
iterations, same protocol as BENCH/scaling.py), each at
local[$SPARK_GRAFT_CPUS]:

  balanced    the bench generator's default geometry (zipf 1.2);
  skew90      zipf 3.5 over 16 sources — ~90% of all rows land in ONE
              source (the actual share is measured and recorded);
  hotminute   the truly pathological shape zipf cannot produce with
              this generator (a bigger source spreads over MORE
              minutes at a fixed docs/min rate, so per-key cardinality
              stays bounded): 90% of docs carry wrapped sequence
              numbers, concentrating them onto ~9 minute buckets —
              per-(source,bucket_ts) explode cardinality in the
              hundreds of millions.

Per-run evidence beyond wall clock: Spark event logs are enabled and
the dominant stage's task-duration spread (max/median) is parsed out —
the direct measurement of "task-time balance" (does one reducer get
pinned by a hot key).

Criteria recorded in the summary (all on the SAME input volume, so the
comparable unit is raw input rows/s == inverse wall, NOT rolled
points/s — a skewed table legitimately yields fewer output keys from
the same rows): skew90 raw-row throughput within ~20% of balanced, and
the dominant-stage task spread of every arm.

Task spreads are computed ONLY over the best (fastest) iteration's
time window — pooling all iterations lets cold-JIT/contended early
iterations dominate the dominant-stage pick.

Usage: python BENCH/skew_stress.py [rows] [arm ...] — writes
BENCH/skew_stress.json
"""

from __future__ import annotations

import glob
import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

CHILD = r"""
import glob, json, os, sys, time
sys.path.insert(0, os.path.join({repo!r}, "src"))
from tstoken.session import get_spark
from tstoken import rollup

evdir = {evdir!r}
os.makedirs(evdir, exist_ok=True)
spark = get_spark("skew-stress", master="local[{cpus}]",
                  extra_conf={{"spark.eventLog.enabled": "true",
                               "spark.eventLog.compress": "false",
                               "spark.eventLog.dir": "file:" + evdir}})
spark.sparkContext.setLogLevel("ERROR")

walls, windows = [], []
for i in range({iters}):
    t0 = time.time()
    raw = spark.read.parquet({path!r})
    t1m = rollup.rollup_1m(raw)
    t1m.write.format("noop").mode("overwrite").save()
    t1 = time.time()
    walls.append(round(t1 - t0, 2))
    windows.append([int(t0 * 1000), int(t1 * 1000)])
points = rollup.rollup_1m(spark.read.parquet({path!r})).count()
tail = walls[1:] if len(walls) > 1 else walls
best_i = walls.index(min(tail))
print(json.dumps({{"walls": walls, "wall_sec": walls[best_i],
                   "best_window": windows[best_i],
                   "rolled_points": points,
                   "rows_per_sec": round({rows} / walls[best_i], 1),
                   "points_per_sec": round(points / walls[best_i], 1)}}))
spark.stop()
"""

STAGE = r"""
import json, sys
sys.path.insert(0, {src!r})
from pyspark.sql import functions as F
from tstoken.session import get_spark
from tstoken import synth

spark = get_spark("skew-stage", master="local[{cpus}]")
spark.sparkContext.setLogLevel("ERROR")
kind = {kind!r}
rows = {rows}
path = {path!r}
if kind == "balanced":
    df = synth.generate_tokens_raw(spark, rows, n_sources=16)
elif kind == "skew90":
    df = synth.generate_tokens_raw(spark, rows, n_sources=16,
                                   zipf_exp=3.5)
elif kind == "hotminute":
    # 90% hot: unique doc_ids whose LAST dash field (the seq the
    # engine derives event_ts from) wraps modulo 180 -> with src-000's
    # 3 s step all hot docs land in ~9 minute buckets; 10% cold docs
    # keep the bench shape. n_tok/tokens mirror the synth generator's
    # distribution so per-doc explode cost matches.
    n_hot = int(rows * 0.9)
    hot = (spark.range(0, n_hot, numPartitions=max(32, n_hot // 50_000))
           .withColumn("seq", F.pmod(F.col("id"), F.lit(180)))
           .withColumn("n_tok", (F.lit(64) + F.pmod(
               F.col("id") * F.lit(2654435761) + F.lit(17),
               F.lit(1985))).cast("int"))
           .withColumn("source", F.lit("src-000"))
           .withColumn("doc_id", F.format_string(
               "src-000-u%012d-%012d", F.col("id"), F.col("seq")))
           .withColumn("tokens", F.transform(
               F.sequence(F.lit(0), F.col("n_tok") - 1),
               lambda i: F.pmod(F.col("id") * F.lit(131) + i + F.lit(7),
                                F.lit(50257)).cast("int")))
           .select("doc_id", "tokens", "n_tok", "source"))
    cold = synth.generate_tokens_raw(spark, rows - n_hot, n_sources=15)
    # shift cold sources off src-000 so the hot source stays pure
    cold = cold.withColumn(
        "source", F.regexp_replace("source", "^src-000$", "src-015"))
    df = hot.unionByName(cold)
else:
    raise ValueError(kind)
df.write.mode("overwrite").parquet(path)
top = (spark.read.parquet(path).groupBy("source").count()
       .orderBy(F.desc("count")).limit(1).collect()[0])
total = spark.read.parquet(path).count()
print(json.dumps({{"top_source": top["source"],
                   "top_share": round(top["count"] / total, 4),
                   "rows": total}}))
spark.stop()
"""


def run(code: str) -> dict:
    out = subprocess.run([sys.executable, "-c", code],
                         capture_output=True, text=True, timeout=7200)
    lines = [l for l in out.stdout.splitlines() if l.startswith("{")]
    if not lines:
        raise RuntimeError(f"child produced no JSON:\n{out.stderr[-3000:]}")
    return json.loads(lines[-1])


def task_spread(evdir: str, window: list[int] | None = None) -> dict:
    """Parse the newest event log: per-stage task durations; return
    the dominant stage's (by total task time) max/median spread.

    `window` = [launch_ms_lo, launch_ms_hi]: only tasks LAUNCHED inside
    it count — scoping the spread to the measured best iteration so
    cold-JIT first iterations can't contribute tasks."""
    logs = sorted(glob.glob(os.path.join(evdir, "*")),
                  key=os.path.getmtime)
    if not logs:
        return {"error": "no event log"}
    newest = logs[-1]
    # Spark 4 rolling layout: eventlog_v2_<appId>/ dir with events_N_*
    # part files; older layout is a single flat file
    files = sorted(glob.glob(os.path.join(newest, "events_*"))) \
        if os.path.isdir(newest) else [newest]
    files = [f for f in files if not f.endswith((".zstd", ".lz4",
                                                 ".snappy", ".gz"))]
    if not files:
        return {"error": f"no uncompressed event files under {newest} "
                         f"(set spark.eventLog.compress=false)"}
    stages: dict[int, list[float]] = {}
    for fname in files:
        with open(fname) as f:
            for line in f:
                try:
                    ev = json.loads(line)
                except json.JSONDecodeError:
                    continue
                if ev.get("Event") != "SparkListenerTaskEnd":
                    continue
                ti = ev.get("Task Info") or {}
                launch = ti.get("Launch Time", 0)
                if window and not (window[0] <= launch <= window[1]):
                    continue
                dur = (ti.get("Finish Time", 0) - launch) / 1000.0
                stages.setdefault(ev.get("Stage ID", -1), []).append(dur)
    if not stages:
        return {"error": "no TaskEnd events"}
    dom = max(stages, key=lambda s: sum(stages[s]))
    ds = sorted(stages[dom])
    med = ds[len(ds) // 2]
    return {
        "dominant_stage": dom,
        "n_tasks": len(ds),
        "task_sec_median": round(med, 2),
        "task_sec_max": round(ds[-1], 2),
        "max_over_median": round(ds[-1] / max(med, 1e-9), 2),
        "stage_task_sec_total": round(sum(ds), 1),
    }


def main():
    rows = int(sys.argv[1]) if len(sys.argv) > 1 else 2_000_000
    only = set(sys.argv[2:])  # arm names: re-measure just these,
    #                           pooling the rest from the prior file
    # pool with prior campaigns (same protocol as BENCH/scaling.py):
    # keep each arm's fastest campaign — min-of-mins is the only
    # estimator robust to one campaign catching a contended window
    outpath = os.path.join(REPO, "BENCH", "skew_stress.json")
    prior = {}
    if os.path.exists(outpath):
        with open(outpath) as f:
            prior = json.load(f)
    if prior.get("rows") != rows or "runs" not in prior:
        prior = {"runs": {}}
    hot_rows = rows // 2
    src = os.path.join(REPO, "src")
    results = {"rows": rows, "hotminute_rows": hot_rows}

    tables = {}
    for kind, n in (("balanced", rows), ("skew90", rows),
                    ("hotminute", hot_rows)):
        path = f"/tmp/tstoken_skew_{kind}_{n}"
        if not os.path.exists(os.path.join(path, "_SUCCESS")):
            info = run(STAGE.format(src=src, kind=kind, rows=n, path=path,
                                    cpus=CPUS))
        else:
            info = {"path_reused": True}
        tables[kind] = {"path": path, **info}
        print(json.dumps({kind: tables[kind]}), flush=True)
    results["tables"] = tables

    arms = {"balanced": rows, "skew90": rows, "hotminute": hot_rows}
    runs = {n: p for n, p in prior["runs"].items()
            if n in arms and "rows_per_sec" in p}
    for name, n_rows in arms.items():
        if only and name not in only and name in runs:
            continue
        evdir = f"/tmp/tstoken_skew_ev_{name}_{int(time.time())}"
        r = run(CHILD.format(repo=REPO, path=tables[name]["path"],
                             cpus=CPUS, iters=5, evdir=evdir, rows=n_rows))
        r["spread"] = task_spread(evdir, window=r.get("best_window"))
        print(json.dumps({name: r}), flush=True)
        p = runs.get(name)
        if p:
            hist = p.get("campaign_walls", [p["walls"]])
            r = dict(r if r["wall_sec"] <= p["wall_sec"] else p,
                     campaign_walls=hist + [r["walls"]])
        runs[name] = r
    results["campaigns"] = prior.get("campaigns", 0) + 1
    results["runs"] = runs

    bal, sk, hot = runs["balanced"], runs["skew90"], runs["hotminute"]
    results["criteria"] = {
        # same input rows -> raw rows/s is the comparable throughput
        "skew90_rps_over_balanced":
            round(sk["rows_per_sec"] / bal["rows_per_sec"], 3),
        "skew90_within_20pct":
            sk["rows_per_sec"] >= 0.8 * bal["rows_per_sec"],
        "skew90_spread": sk["spread"].get("max_over_median"),
        "balanced_spread": bal["spread"].get("max_over_median"),
        "hotminute_spread": hot["spread"].get("max_over_median"),
    }
    with open(outpath, "w") as f:
        json.dump(results, f, indent=2)
    print(json.dumps(results["criteria"]))


if __name__ == "__main__":
    main()
