"""tstoken engine benchmark: one workload, one seed, one JSON result.

    python3 perfbench/run.py --workload ingest --seed 1 --seconds 16 --trace 0

Run from the root of a checkout. Load shape: one driver process on
local[nproc], closed loop — one client runs the workload's pass, waits
for it, runs it again — for about `--seconds`, after a first (cold) pass in
the fresh JVM. `--seconds` sets the number of steady passes (see
`pass_count`). No other Spark JVM may run meanwhile.

--trace 0 prints the end-to-end metrics; --trace 1 runs half the passes
untraced and half traced (spans around every layer call, Spark event
log on), then the workload's probe, and prints the per-layer metrics,
tracing overhead included.
Correctness checks run untimed after the passes, every run. The last
stdout line is the result; the line before it is the full run record,
also written with the spans under .perfbench/records/.
See perfbench/NOTES.md for the workloads and the metric map.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# Wall-clock pass figures (cold_pass_s, pass_s, rows_per_s) are in every
# record but not here: CPU steal on a shared host spread them 0.26-0.56
# across ten seeds, wider than any bound the result format allows.
E2E = {"setup_s": "s", "pass_cpu_s": "s", "peak_rss_mb": "MB"}

PER_LAYER = {
    "session.get_spark_s": "s", "synth.stage_s": "s",
    "synth.rows_staged": "count",
    "rollup.rollup_1m_s": "s", "rollup.rollup_1m_share": "ratio",
    "rollup.task_s": "s", "rollup.shuffle_write_mb": "MB",
    "rollup.spill_mb": "MB", "rollup.task_skew": "ratio",
    "rollup.rows_out": "count", "rollup.cascade_1h_s": "s",
    "rollup.cascade_1d_s": "s", "rollup.rolled_points_per_s": "points/s",
    "gapfill.gap_fill_s": "s", "gapfill.filled_ratio": "ratio",
    "detect.iqr_flags_s": "s", "detect.zscore_flags_s": "s",
    "detect.mad_flags_s": "s", "detect.ma_flags_s": "s",
    "detect.extrema_ensemble_flags_s": "s",
    "detect.grouped_flags.stl_s": "s", "detect.grouped_flags.stl_z_s": "s",
    "detect.grouped_flags.mstl_s": "s",
    "detect.grouped_flags.classic_s": "s",
    "detect.grouped_flags.esd_s": "s", "detect.grouped.task_skew": "ratio",
    "detect.fallback_ratio": "ratio", "detect.anomaly_f1": "ratio",
    "detect.scored_points_per_s": "points/s",
    "stats.stl_fit_s": "s", "stats.mstl_fit_s": "s",
    "stats.monte_carlo_shapiro_pvalue_s": "s",
    "stats.generalized_esd_s": "s", "stats.seasonal_decompose_s": "s",
    "checkpoint.build_s": "s", "checkpoint.resume_s": "s",
    "checkpoint.noop_resume_s": "s", "checkpoint.units_erased": "count",
    "checkpoint.units_replayed": "count", "checkpoint.ledger_rows": "count",
    "tableio.build.bytes_written_mb": "MB",
    "tableio.build.files_written": "count",
    "tableio.resume.bytes_written_mb": "MB",
    "tableio.resume.files_written": "count",
    "tableio.apply_retention.bytes_written_mb": "MB",
    "tableio.apply_retention.files_written": "count",
    "compress.compress_tier_s": "s", "compress.decompress_blocks_s": "s",
    "compress.block_bytes": "bytes", "compress.points": "count",
    "compress.block_bytes_per_point": "bytes",
    "compress.encode_values_s": "s", "compress.encode_timestamps_s": "s",
    "retention.apply_retention_s": "s", "retention.rows_deleted": "count",
    "streaming.replay_s": "s", "streaming.batches": "count",
    "streaming.batch_ms_p50": "ms", "streaming.state_rows": "count",
    "streaming.state_mb": "MB", "streaming.rows_dropped_by_watermark": "count",
    "streaming.missing_rollup_columns": "count",
    "streaming.rows_per_s": "rows/s",
    "multimodal.extract_features_s": "s", "multimodal.decoded_ratio": "ratio",
    "multimodal.items_per_s": "items/s",
    "imagecodec.png_decode_ms": "ms",
    "imagecodec.jpeg_decode_baseline_ms": "ms",
    "imagecodec.jpeg_decode_progressive_ms": "ms",
    "spark.task_s": "s", "spark.gc_s": "s", "spark.shuffle_write_mb": "MB",
    "trace.pass_s": "s", "trace.overhead_s": "s",
}

SETUP_REPS = 3      # setup_s = session start + median staging of 3
MIN_PASSES = 2      # steady passes per measured phase, whatever --seconds


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def spark_conf(work: str, trace: bool) -> dict:
    import host
    local = os.path.join(work, "spark-local")
    os.makedirs(local, exist_ok=True)
    conf = {
        "spark.driver.memory": host.driver_memory(),
        "spark.local.dir": local,
        # heap committed whole at start, so peak RSS does not depend on
        # when the JVM chose to grow it
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={local} -Xms{host.driver_memory()}",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        evdir = os.path.join(work, "eventlog")
        os.makedirs(evdir, exist_ok=True)
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": evdir,
                     "spark.eventLog.compress": "false"})
    return conf


def stop_spark(spark) -> None:
    """Stop the session and the JVM it launched, and wait for the JVM."""
    from pyspark import SparkContext
    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    gw.shutdown()
    proc = getattr(gw, "proc", None)
    if proc is not None:
        proc.stdin.close()   # the gateway server exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = SparkContext._jvm = None


def measure(wl, tracer, passes: int, ops: dict) -> tuple[list, list]:
    """Closed loop: `passes` passes back to back. Returns (walls,
    per-pass results with CPU and steal seconds)."""
    import host
    walls, results = [], []
    while len(walls) < passes:
        ops["attempted"] += 1
        steal0, cpu0 = host.steal_s(), host.tree_cpu_s(wl.jvm_pid)
        t0 = time.perf_counter()
        try:
            with tracer.span("pass"):
                res = wl.run_pass()
        except Exception:
            traceback.print_exc()
            ops["failed"] += 1
            break
        walls.append(time.perf_counter() - t0)
        res["steal_s"] = host.steal_s() - steal0
        res["cpu_s"] = host.tree_cpu_s(wl.jvm_pid) - cpu0
        results.append(res)
    return walls, results


def pass_count(wl, seconds: float) -> int:
    """Steady passes for `seconds` of measurement. The count depends on
    `seconds` only, never on how fast this run goes: the JVM is still
    warming up over these passes, so a statistic over a count that
    varied with host speed would drift with the count."""
    return max(MIN_PASSES, round(seconds / wl.seconds_per_pass))


def run_checks(check, ops: dict) -> list:
    try:
        checks = check()
    except Exception:
        traceback.print_exc()
        checks = [("check_raised", False, traceback.format_exc(limit=2))]
    for name, ok, detail in checks:
        ops["attempted"] += 1
        ops["failed"] += 0 if ok else 1
        if not ok:
            print(f"CHECK FAILED {name}: {detail}", file=sys.stderr)
    return [{"name": n, "ok": bool(ok), "detail": d} for n, ok, d in checks]


def root_groups(spans: list) -> dict[str, list[list]]:
    """Spans grouped by the root span ("pass" or "probe") they descend
    from: root name -> one span list per root."""
    by_id = {s.span_id: s for s in spans}
    groups: dict[str, list] = {}
    for s in spans:
        root = s
        while root.parent is not None:
            root = by_id[root.parent]
        groups.setdefault(root.span_id, []).append(s)
    out: dict[str, list[list]] = {}
    for members in groups.values():
        root = next(s for s in members if s.parent is None)
        out.setdefault(root.name, []).append(members)
    return out


def layer_from_trace(spans: list, log_dir: str) -> dict:
    """Per-layer values from the traced spans: self time per span name
    and event-log task metrics, each the median over the traced passes;
    the probe's spans (run once) are added as they are."""
    import eventlog
    from tracing import self_times

    tasks = eventlog.job_group_tasks(log_dir)
    self_t = self_times(spans)

    def values(group: list) -> dict:
        vals: dict[str, float] = {}
        for s in group:
            if s.parent is not None:
                key = f"{s.name}_s"
                vals[key] = vals.get(key, 0.0) + self_t[s.span_id]

        def tasks_of(pred):
            return [t for s in group if pred(s.name)
                    for g in [s.span_id, *s.attrs.get("job_groups", [])]
                    for t in tasks.get(g, [])]

        every = tasks_of(lambda _n: True)
        if every:
            summ = eventlog.summarize(every)
            vals.update({f"spark.{k}": summ[k]
                         for k in ("task_s", "gc_s", "shuffle_write_mb")})
        r1m = tasks_of(lambda n: n == "rollup.rollup_1m")
        if r1m:
            summ = eventlog.summarize(r1m)
            vals.update({f"rollup.{k}": summ[k] for k in
                         ("task_s", "shuffle_write_mb", "spill_mb", "task_skew")})
        grouped = tasks_of(lambda n: n.startswith("detect.grouped_flags."))
        if grouped:
            vals["detect.grouped.task_skew"] = \
                eventlog.summarize(grouped)["task_skew"]
        return vals

    groups = root_groups(spans)
    per_pass = [values(g) for g in groups.get("pass", [])]
    keys = {k for v in per_pass for k in v}
    out = {k: statistics.median(v[k] for v in per_pass if k in v) for k in keys}
    for g in groups.get("probe", []):
        probe = values(g)
        probe.pop("spark.task_s", None), probe.pop("spark.gc_s", None)
        probe.pop("spark.shuffle_write_mb", None)
        out.update(probe)
        out["probe.detect_s"] = sum(v for k, v in probe.items()
                                    if k.startswith("detect.") and k.endswith("_s"))
    return out


def main(argv=None) -> int:
    args = parse_args(argv)
    # a SIGTERM unwinds like an exception, so the JVM is stopped and the
    # work directory removed on the way out
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isfile(os.path.join(ROOT, "src", "tstoken", "__init__.py")):
        print(f"no engine source under {ROOT}/src/tstoken; run from a "
              "checkout of the repository", file=sys.stderr)
        return 2
    for p in (os.path.join(ROOT, "src"), HERE):
        if p not in sys.path:
            sys.path.insert(0, p)
    import host
    from workloads import WORKLOADS
    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    others = host.other_spark_pids({os.getpid()})
    if others:
        print(f"another Spark JVM is running (pids {others}); the benchmark "
              "needs the host to itself", file=sys.stderr)
        return 3

    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{int(time.time())}"
    work = os.path.join(ROOT, ".perfbench", "work", run_id)
    records = os.path.join(ROOT, ".perfbench", "records")
    os.makedirs(records, exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.makedirs(os.environ["TMPDIR"], exist_ok=True)
    load_before = host.loadavg()
    cpus = os.cpu_count() or 1
    try:
        return _run(args, run_id, work, records, cpus, load_before)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(args, run_id, work, records, cpus, load_before) -> int:
    import host
    from tracing import Tracer
    from workloads import WORKLOADS

    conf = spark_conf(work, bool(args.trace))
    t0 = time.perf_counter()
    from tstoken.session import get_spark
    spark = get_spark(f"perfbench-{args.workload}", master=f"local[{cpus}]",
                      shuffle_partitions=max(cpus, 4), extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    session_s = time.perf_counter() - t0
    try:
        jvm_pid = int(spark._jvm.ProcessHandle.current().pid())
        sc = spark.sparkContext
        tracer = Tracer(False, run_id, lambda gid: sc.setJobGroup(gid, gid)
                        if gid else sc.setLocalProperty("spark.jobGroup.id", None))
        wl = WORKLOADS[args.workload](spark, ROOT, work, args.seed, cpus, tracer)
        wl.jvm_pid = jvm_pid
        ops = {"attempted": 0, "failed": 0}
        stage = []
        for _ in range(SETUP_REPS):
            t1 = time.perf_counter()
            wl.setup()
            stage.append(time.perf_counter() - t1)
        setup_s = session_s + statistics.median(stage)

        n = pass_count(wl, args.seconds)
        cold_walls, _ = measure(wl, tracer, 1, ops)
        cold = cold_walls[0] if cold_walls else float("nan")
        if args.trace:
            walls, results = measure(wl, tracer, max(MIN_PASSES, n // 2), ops)
            tracer.enabled = True
            t_walls, _ = measure(wl, tracer, max(MIN_PASSES, n // 2), ops)
        else:
            walls, results = measure(wl, tracer, n, ops)
            t_walls = []
        checks = run_checks(wl.check, ops) if walls else []
        traced = bool(args.trace and walls and t_walls)
        layer = {}
        if traced:
            checks += run_checks(wl.probe, ops)
            tracer.enabled = False
            layer = wl.layer_metrics()
        rss = host.peak_rss_mb(jvm_pid)
        spark_version = spark.version
    finally:
        stop_spark(spark)

    nan = float("nan")
    pass_s = statistics.median(walls) if walls else nan
    # the cheapest steady pass: contention only ever adds CPU time, and
    # the JVM is still warming up over these passes
    e2e = {"setup_s": setup_s,
           "pass_cpu_s": min(r["cpu_s"] for r in results) if results else nan,
           "peak_rss_mb": rss}
    wall = {"cold_pass_s": cold, "pass_s": pass_s,
            "rows_per_s": wl.work_rows() / pass_s if walls else nan}
    wl_metrics = workload_metrics(results, pass_s)
    record = {
        "run_id": run_id, "workload": args.workload, "seed": args.seed,
        "seconds": args.seconds, "trace": args.trace,
        "params": wl.params, "input_key": wl.key,
        "stamp": {**host.git_state(ROOT),
                  "src_sha256": host.tree_sha256(ROOT, "src"),
                  "bench_sha256": host.tree_sha256(ROOT, "perfbench"),
                  "nproc": cpus, "loadavg_before": load_before,
                  "loadavg_after": host.loadavg(),
                  "versions": host.versions(spark_version),
                  "driver_memory": host.driver_memory(),
                  "host_ram_mb": host.host_ram_mb(),
                  "master": f"local[{cpus}]",
                  "detector_defaults": host.detector_defaults()},
        "load_shape": "closed loop, 1 client, 1 driver process",
        "passes": {"cold_s": cold, "steady_s": walls, "traced_s": t_walls,
                   "steady_cpu_steal_s": [r["steal_s"] for r in results],
                   "steady_cpu_s": [r["cpu_s"] for r in results]},
        "end_to_end": e2e, "wall": wall, "workload_metrics": wl_metrics,
        "setup": {"session_s": session_s, "stage_reps_s": stage},
        "checks": checks, **ops,
    }
    if args.trace:
        # a layer the workload never calls reports 0
        per_layer = {k: 0.0 for k in PER_LAYER}
        if traced:
            per_layer.update(layer)
            per_layer.update(layer_from_trace(tracer.spans,
                                              os.path.join(work, "eventlog")))
            per_layer.update(trace_derived(per_layer, wl_metrics, t_walls,
                                           pass_s, session_s, stage, wl))
        unknown = set(per_layer) - set(PER_LAYER)
        record["spans_self_s"] = {k: per_layer.pop(k) for k in sorted(unknown)}
        record["per_layer"] = per_layer
        tracer.dump(os.path.join(records, f"{run_id}.spans.jsonl"))
        metrics = {k: {"value": per_layer[k], "unit": PER_LAYER[k]}
                   for k in PER_LAYER}
    else:
        metrics = {k: {"value": e2e[k], "unit": E2E[k]} for k in E2E}
    with open(os.path.join(records, f"{run_id}.json"), "w") as f:
        json.dump(record, f, indent=1, default=str)
    print(json.dumps(record, default=str))
    correct = bool(walls) and ops["failed"] == 0 and all(c["ok"] for c in checks)
    print(json.dumps({"correct": correct, "attempted": ops["attempted"],
                      "failed": ops["failed"], "metrics": metrics}))
    return 0


def workload_metrics(results: list, pass_s: float) -> dict:
    """The workload's own end-to-end figures from the untraced passes."""
    if not results:
        return {}
    last = results[-1]
    out = {}
    if "rolled_points" in last:
        out["rolled_points_per_s"] = last["rolled_points"] / pass_s
    if "resume_s" in last:
        out["resume_s"] = statistics.median(r["resume_s"] for r in results)
        out["stream_rows_per_s"] = statistics.median(
            r["stream_rows_per_s"] for r in results)
    return out


def trace_derived(layer, wl_metrics, t_walls, pass_s, session_s, stage,
                  wl) -> dict:
    traced = statistics.median(t_walls)
    out = {"session.get_spark_s": session_s,
           "synth.stage_s": statistics.median(stage),
           "synth.rows_staged": wl.params["rows"],
           "trace.pass_s": traced, "trace.overhead_s": traced - pass_s,
           "rollup.rollup_1m_share": layer["rollup.rollup_1m_s"] / traced,
           "rollup.rolled_points_per_s": wl_metrics.get("rolled_points_per_s",
                                                        0.0)}
    if "detect.scored_points" in layer:
        out["detect.scored_points_per_s"] = (layer.pop("detect.scored_points")
                                             / layer.pop("probe.detect_s"))
        out["multimodal.items_per_s"] = (layer.pop("multimodal.items")
                                         / layer["multimodal.extract_features_s"])
    if "stream_rows_per_s" in wl_metrics:
        out["streaming.rows_per_s"] = wl_metrics["stream_rows_per_s"]
    return out


if __name__ == "__main__":
    sys.exit(main())
