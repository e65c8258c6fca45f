"""Toy-scale self-tests of the benchmark's own parts; no Spark needed.

    python3 -m pytest perfbench/tests -q
"""

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path[:0] = [BENCH, os.path.join(os.path.dirname(BENCH), "src")]

import eventlog  # noqa: E402
from tracing import Span, Tracer, self_times  # noqa: E402


def task_end(stage, launch, finish, gc=0, write=0, read=0, spill=0):
    return {"Event": "SparkListenerTaskEnd", "Stage ID": stage,
            "Task Info": {"Launch Time": launch, "Finish Time": finish},
            "Task Metrics": {
                "JVM GC Time": gc, "Disk Bytes Spilled": spill,
                "Shuffle Write Metrics": {"Shuffle Bytes Written": write},
                "Shuffle Read Metrics": {"Remote Bytes Read": 0,
                                         "Local Bytes Read": read}}}


def job_start(job, stages, group):
    props = {"spark.jobGroup.id": group} if group else {}
    return {"Event": "SparkListenerJobStart", "Job ID": job,
            "Stage IDs": stages, "Properties": props}


EVENTS = [
    {"Event": "SparkListenerLogStart"},
    job_start(0, [0, 1], "run.1"),
    task_end(0, 1000, 2000, gc=100, write=2 * 2**20),
    task_end(0, 1000, 3000),
    task_end(1, 3000, 9000, read=2**20, spill=3 * 2**20),
    # stage 1 is listed again by a later job: it stays with run.1
    job_start(1, [1, 2], "run.2"),
    task_end(2, 9000, 9500, gc=50),
    # a job outside any group is not attributed
    job_start(2, [3], None),
    task_end(3, 0, 99000),
]


def write_lines(path, events, torn_tail=False):
    with open(path, "w") as f:
        for ev in events:
            f.write(json.dumps(ev) + "\n")
        if torn_tail:
            f.write('{"Event": "SparkListenerTaskEnd", "Sta')


def check_groups(groups):
    assert set(groups) == {"run.1", "run.2"}
    g1 = groups["run.1"]
    assert g1["n_tasks"] == 3
    assert g1["task_s"] == pytest.approx(1.0 + 2.0 + 6.0)
    assert g1["task_max_s"] == pytest.approx(6.0)
    assert g1["task_median_s"] == pytest.approx(2.0)
    assert g1["task_skew"] == pytest.approx(3.0)
    assert g1["gc_s"] == pytest.approx(0.1)
    assert g1["shuffle_write_mb"] == pytest.approx(2.0)
    assert g1["shuffle_read_mb"] == pytest.approx(1.0)
    assert g1["spill_mb"] == pytest.approx(3.0)
    g2 = groups["run.2"]
    assert (g2["n_tasks"], g2["task_s"], g2["gc_s"]) == (1, 0.5, 0.05)


def test_flat_event_file(tmp_path):
    write_lines(tmp_path / "local-123", EVENTS, torn_tail=True)
    check_groups(eventlog.job_group_metrics(str(tmp_path)))


def test_rolling_event_dir_in_part_order(tmp_path):
    app = tmp_path / "eventlog_v2_local-123"
    app.mkdir()
    (app / "appstatus_local-123").write_text("")
    # part 10 sorts before part 2 as text; the parser orders numerically
    write_lines(app / "events_2_local-123", EVENTS[:5])
    write_lines(app / "events_10_local-123", EVENTS[5:])
    check_groups(eventlog.job_group_metrics(str(tmp_path)))


def test_compressed_log_is_refused(tmp_path):
    write_lines(tmp_path / "local-123.zstd", EVENTS)
    with pytest.raises(ValueError, match="compress"):
        eventlog.job_group_metrics(str(tmp_path))


def test_self_time_subtracts_union_of_children():
    spans = [Span("r.0", "pass", None, "r", 0.0, 10.0),
             Span("r.1", "a", "r.0", "r", 1.0, 4.0),
             Span("r.2", "b", "r.0", "r", 3.0, 6.0),   # overlaps a
             Span("r.3", "c", "r.2", "r", 3.5, 4.5)]
    st = self_times(spans)
    assert st["r.0"] == pytest.approx(10.0 - 5.0)
    assert st["r.1"] == pytest.approx(3.0)
    assert st["r.2"] == pytest.approx(3.0 - 1.0)
    assert st["r.3"] == pytest.approx(1.0)


def test_tracer_nests_spans_and_labels_job_groups(tmp_path):
    ticks = iter(range(100))
    groups = []
    tr = Tracer(True, "run", groups.append, clock=lambda: float(next(ticks)))
    with tr.span("pass"):
        with tr.span("rollup.rollup_1m", rows=3) as s:
            assert s.attrs == {"rows": 3}
    assert [(s.name, s.parent) for s in tr.spans] == [
        ("pass", None), ("rollup.rollup_1m", "run.0")]
    assert groups == ["run.0", "run.1", "run.0", None]
    tr.dump(str(tmp_path / "spans.jsonl"))
    lines = (tmp_path / "spans.jsonl").read_text().splitlines()
    assert [json.loads(x)["span_id"] for x in lines] == ["run.0", "run.1"]


def test_untraced_tracer_records_nothing():
    tr = Tracer(False, "run", lambda _g: pytest.fail("job group set"))
    with tr.span("pass") as s:
        assert s is None
    sentinel = object()
    assert tr.materialize(sentinel) is sentinel
    assert tr.spans == []


def test_benchmark_json_matches_the_metrics_run_prints():
    import run
    with open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.E2E
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    from workloads import WORKLOADS
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
