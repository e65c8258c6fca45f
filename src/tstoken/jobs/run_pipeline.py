"""spark-submit entry point: end-to-end checkpointed tier build.

Usage (cluster):
    spark-submit --py-files tstoken.zip -m tstoken.jobs.run_pipeline \
        --rows 10000000 --sources 64 --base /data/tstoken

Every run is resumable: work units already in the ledger are skipped
(tstoken.checkpoint), tier writes are partition-overwrites, so a rerun
after a mid-job kill converges to byte-identical tiers.
"""

from __future__ import annotations

import argparse
import json
import time


def main(argv=None) -> dict:
    p = argparse.ArgumentParser()
    p.add_argument("--rows", type=int, default=1_000_000)
    p.add_argument("--sources", type=int, default=8)
    p.add_argument("--base", default="/tmp/tstoken_tiers")
    p.add_argument("--master", default=None)
    p.add_argument("--detect", action="store_true",
                   help="also run detectors and write flag tables")
    args = p.parse_args(argv)

    from ..checkpoint import run_incremental_rollup
    from ..detect import all_flags
    from ..gapfill import gap_fill
    from ..session import get_spark
    from ..synth import generate_tokens_raw
    from ..tableio import TableIO

    spark = get_spark("tstoken-pipeline", master=args.master)
    io = TableIO(spark, args.base)
    t0 = time.time()
    raw = generate_tokens_raw(spark, args.rows, n_sources=args.sources)
    processed = run_incremental_rollup(spark, io, raw)

    if args.detect:
        for tier in ("1m", "1h", "1d"):
            rolled = gap_fill(io.read(f"rollup_{tier}").drop("chunk"), tier)
            flags = all_flags(rolled, tier,
                              methods=("iqr", "zscore", "mad", "stl"))
            io.overwrite(f"flags_{tier}", flags, partition_by=("method",))

    wall = time.time() - t0
    n_points = sum(io.read(f"rollup_{t}").count() for t in ("1m", "1h", "1d"))
    result = {"wall_sec": round(wall, 2), "rolled_points": n_points,
              "points_per_sec": round(n_points / wall, 1),
              "units_processed": processed, "backend": io.backend}
    print(json.dumps(result))
    return result


if __name__ == "__main__":
    main()
