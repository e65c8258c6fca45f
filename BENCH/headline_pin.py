"""Pooled-minimum pin of the headline bench suite.

Runs `bench.py` in N fresh processes (sequential — never concurrent,
round-5 measurement lesson: concurrent Spark work contaminated two
arms of a campaign) and pools per-query minima across campaigns.
Single-campaign walls on this shared VM swing 2-5x with host
contention, so the pooled min over several fresh-process campaigns is
the only defensible steady-state estimate (same estimator as the
scaling harness's fresh-process pipeline campaigns).

Writes BENCH/headline_r5.json: per-campaign full bench lines (kept so
nothing is discarded), pooled per-query minima, pooled total, and the
1-minute loadavg observed before each campaign (the known confounder —
round-5 pipeline pin showed per-campaign minima track pre-campaign
load).

Usage: python BENCH/headline_pin.py [n_campaigns=4]
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT = os.path.join(REPO, "BENCH", "headline_r5.json")
sys.path.insert(0, os.path.join(REPO, "tools"))
from check_oracles import code_stamp  # noqa: E402


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 4
    campaigns = []
    for i in range(n):
        load = os.getloadavg()[0]
        t0 = time.time()
        proc = subprocess.run(
            [sys.executable, os.path.join(REPO, "bench.py")],
            capture_output=True, text=True, timeout=1800, cwd=REPO)
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or not lines:
            # surface the failure AND salvage the completed campaigns —
            # a dead campaign 3/4 must not discard an hour of walls
            sys.stderr.write(proc.stderr[-4000:])
            msg = (f"bench.py campaign {i + 1}/{n} failed "
                   f"(exit {proc.returncode})")
            if campaigns:
                with open(OUT + ".partial", "w") as f:
                    json.dump({"completed_campaigns": campaigns}, f,
                              indent=1)
                msg += (f"; {len(campaigns)} completed campaigns "
                        f"saved to {OUT}.partial")
            raise RuntimeError(msg)
        rec = json.loads(lines[-1])
        rec["_pre_loadavg_1m"] = round(load, 2)
        rec["_campaign_wall_sec"] = round(time.time() - t0, 1)
        campaigns.append(rec)
        print(f"campaign {i + 1}/{n}: total {rec['value']}s "
              f"pipeline {rec['queries']['tok_pipeline']}s "
              f"pts/s {rec['rolled_points_per_sec']} "
              f"(pre-load {load:.1f})", flush=True)
    pooled_queries = {
        q: min(c["queries"][q] for c in campaigns)
        for q in campaigns[0]["queries"]}
    summary = {
        "code_stamp": code_stamp(),
        "n_campaigns": n,
        "pooled_query_min_sec": pooled_queries,
        # exclude the cold wall: bench.py's own headline `value` does
        # too, and the pooled total is compared against prior rounds'
        # steady-state totals — summing cold in would inflate it by a
        # 30-170s first-iteration wall that is measured separately
        "pooled_total_sec": round(sum(
            w for q, w in pooled_queries.items()
            if q != "tok_pipeline_cold"), 3),
        "best_campaign_total_sec": min(c["value"] for c in campaigns),
        "best_rolled_points_per_sec": max(
            c["rolled_points_per_sec"] for c in campaigns),
        "campaigns": campaigns,
    }
    with open(OUT, "w") as f:
        json.dump(summary, f, indent=1)
    print(json.dumps({k: summary[k] for k in (
        "code_stamp", "pooled_total_sec", "best_campaign_total_sec",
        "best_rolled_points_per_sec")}))


if __name__ == "__main__":
    main()
