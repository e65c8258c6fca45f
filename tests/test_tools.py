"""Unit tests for the measurement/verification tooling itself — the
round-1 lesson was that a lenient local checker hides driver failures,
so the tooling's own semantics deserve tests. No Spark needed."""

import json
import os
import subprocess
import sys
import types

import pandas as pd
import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(REPO, "tools"))
sys.path.insert(0, os.path.join(REPO, "BENCH"))
sys.path.insert(0, REPO)  # bench.py


class TestOracleCompare:
    def test_dtype_kind_mismatch_fails(self):
        # the exact round-1 failure mode: DuckDB HUGEINT -> float64 vs
        # Spark int64, values identical — must FAIL, not normalize away
        from check_oracles import compare
        a = pd.DataFrame({"k": [1, 2], "v": pd.array([10, 20],
                                                     dtype="int64")})
        b = pd.DataFrame({"k": [1, 2], "v": pd.array([10.0, 20.0],
                                                     dtype="float64")})
        diff = compare(a, b)
        assert diff is not None and "dtype kind mismatch" in diff

    def test_int_width_difference_passes(self):
        from check_oracles import compare
        a = pd.DataFrame({"v": pd.array([1, 2], dtype="int32")})
        b = pd.DataFrame({"v": pd.array([1, 2], dtype="int64")})
        assert compare(a, b) is None

    def test_value_difference_fails(self):
        from check_oracles import compare
        a = pd.DataFrame({"v": [1, 2]})
        b = pd.DataFrame({"v": [1, 3]})
        assert compare(a, b) is not None

    def test_order_insensitive(self):
        from check_oracles import compare
        a = pd.DataFrame({"k": ["b", "a"], "v": [2, 1]})
        b = pd.DataFrame({"k": ["a", "b"], "v": [1, 2]})
        assert compare(a, b) is None


class TestOracleResume:
    STAMP = {"git_head": "abc", "git_dirty": False, "src_sha256": "f00",
             "entry_sha256": "ba5"}

    def _prior(self, stamp):
        return {"sf_dir": "/sf", "code_stamp": stamp, "queries": {
            "a": {"status": "OK"}, "b": {"status": "rows_only"},
            "c": {"status": "FAIL"}}}

    def test_same_stamp_keeps_completed_rows(self):
        from check_oracles import resumable_rows
        kept = resumable_rows(self._prior(self.STAMP), "/sf", self.STAMP)
        assert set(kept) == {"a", "b"}

    @pytest.mark.parametrize("field,value", [
        ("git_head", "def"), ("git_dirty", True), ("src_sha256", "bad"),
        ("entry_sha256", "bad")])
    def test_other_revision_keeps_nothing(self, field, value):
        from check_oracles import resumable_rows
        prior = self._prior({**self.STAMP, field: value})
        assert resumable_rows(prior, "/sf", self.STAMP) == {}

    def test_unstamped_or_other_sf_keeps_nothing(self):
        from check_oracles import resumable_rows
        prior = self._prior(self.STAMP)
        assert resumable_rows(prior, "/other", self.STAMP) == {}
        del prior["code_stamp"]
        assert resumable_rows(prior, "/sf", self.STAMP) == {}

    def test_code_stamp_tracks_src(self, tmp_path):
        from check_oracles import code_stamp
        (tmp_path / "src").mkdir()
        (tmp_path / "__spark_entry__.py").write_text("x = 1\n")
        mod = tmp_path / "src" / "m.py"
        mod.write_text("a = 1\n")
        before = code_stamp(str(tmp_path))
        assert before["git_head"] is None and before["git_dirty"] is None
        mod.write_text("a = 2\n")
        after = code_stamp(str(tmp_path))
        assert after["src_sha256"] != before["src_sha256"]
        (tmp_path / "__spark_entry__.py").write_text("x = 2\n")
        assert code_stamp(str(tmp_path))["entry_sha256"] \
            != after["entry_sha256"]

    def test_duckdb_memory_limit(self, tmp_path):
        from check_oracles import duckdb_memory_limit
        mi = tmp_path / "meminfo"
        mi.write_text("MemTotal:       16384000 kB\nMemFree: 1 kB\n")
        assert duckdb_memory_limit(str(mi)) == f"{16384000 * 3 // 4 // 1024}MiB"
        mi.write_text("MemTotal:       268435456 kB\n")
        assert duckdb_memory_limit(str(mi)) == "32768MiB"
        assert duckdb_memory_limit(str(tmp_path / "missing")) == "32768MiB"


class TestScalingVerdicts:
    def _summary(self, walls, cals):
        return {
            "levels": {f"local[{c}]": {"wall_sec": w}
                       for c, w in walls.items()},
            "calibration_runs": cals,
            "cpu_calibration_units": cals[-1],
        }

    def test_ceiling_uses_quietest_window(self):
        from scaling import recompute_verdicts
        s = self._summary(
            {2: 130.0, 8: 40.0, 32: 15.0},
            # second (contended) calibration must NOT lower the ceiling
            [{"2": 3000, "8": 12000, "32": 42000},
             {"2": 1500, "8": 5000, "32": 16000}])
        out = recompute_verdicts(s)
        assert out["hw_ceiling_2_to_8"] == 1.0        # 12000/3000/4
        assert out["hw_ceiling_8_to_32"] == 0.875     # 42000/12000/4
        assert out["scaling_efficiency_2_to_8"] == round(130 / 160, 3)

    def test_missing_level_skips_pair(self):
        from scaling import recompute_verdicts
        s = self._summary({8: 40.0, 32: 15.0},
                          [{"2": 3000, "8": 12000, "32": 42000}])
        out = recompute_verdicts(s)
        assert "scaling_efficiency_2_to_8" not in out
        assert "scaling_efficiency_8_to_32" in out

    def test_pass_is_normalized_pass(self):
        from scaling import recompute_verdicts
        s = self._summary({2: 128.0, 8: 40.0, 32: 15.0},
                          [{"2": 3000, "8": 12000, "32": 36000}])
        out = recompute_verdicts(s)
        # raw 8->32 = 40/60 = 0.667 < 0.8; ceiling 0.75 -> norm 0.889
        assert out["raw_pass_8_to_32"] is False
        assert out["normalized_pass_8_to_32"] is True
        assert out["pass_8_to_32"] is True

    def test_pair_above_host_cpus_has_no_verdict(self):
        from scaling import recompute_verdicts
        s = self._summary({1: 100.0, 2: 130.0, 4: 30.0, 8: 40.0},
                          [{"1": 1000, "2": 1900, "4": 3600}])
        s["host_cpus"] = 4
        out = recompute_verdicts(s)
        # pairs come from the run's levels: 1 -> 4 and 2 -> 8
        assert out["hw_ceiling_1_to_4"] == 0.9          # 3600/1000/4
        assert out["scaling_efficiency_1_to_4"] == round(100 / 120, 3)
        assert out["normalized_pass_1_to_4"] is True
        # local[8] exceeds the host's 4 CPUs: raw efficiency only
        assert out["scaling_efficiency_2_to_8"] == round(130 / 160, 3)
        assert not [k for k in out if k.endswith("_2_to_8")
                    and not k.startswith("scaling_efficiency")]
        assert out["cpu_calibration_units"] == {"1": 1000, "2": 1900,
                                                "4": 3600}


class TestSteadyWalls:
    """`steady_walls` driven by scripted walls on a fake clock."""

    def _drive(self, monkeypatch, script, min_iters=4, max_iters=10,
               budget=300.0):
        from tstoken.jobs import pipeline
        now = [0.0]
        monkeypatch.setattr(pipeline, "time",
                            types.SimpleNamespace(time=lambda: now[0]))
        script = iter(script)

        def run(prev):
            now[0] += next(script)
            return (prev or 0) + 1

        walls, results = pipeline.steady_walls(
            run, min_iters=min_iters, max_iters=max_iters, budget=budget)
        # every run is handed the previous run's result
        assert results == list(range(1, len(walls) + 1))
        return walls

    def test_plateau_stops(self, monkeypatch):
        # at 4 walls the min (4) still beats the window [5] by >2%; at 5
        # it no longer beats the window [5, 4]
        assert self._drive(monkeypatch, [10, 5, 4, 4, 4, 4]) == \
            [10, 5, 4, 4, 4]

    def test_below_four_runs_is_a_fixed_count(self, monkeypatch):
        assert len(self._drive(monkeypatch, [10, 9, 8, 7], min_iters=2)) == 2

    def test_steady_slower_than_cold_keeps_going(self, monkeypatch):
        # the same plateau after a FAST first run is contention
        walls = self._drive(monkeypatch, [3] + [8] * 9, max_iters=7)
        assert walls == [3] + [8] * 6

    def test_stops_at_max_iters(self, monkeypatch):
        walls = self._drive(monkeypatch, range(20, 0, -1), max_iters=6)
        assert walls == [20, 19, 18, 17, 16, 15]

    def test_stops_at_budget(self, monkeypatch):
        # still improving >2% per run; 340 s elapsed at run 4 is under
        # the budget, 400 s at run 5 is over it
        walls = self._drive(monkeypatch, [100, 90, 80, 70, 60, 50, 40],
                            budget=350.0)
        assert walls == [100, 90, 80, 70, 60]


class TestBenchHostFacts:
    """`bench.host_facts`: the record a same-host A/B pairs runs by."""

    def test_outside_a_checkout(self, tmp_path, monkeypatch):
        import bench
        monkeypatch.setattr(bench, "REPO", str(tmp_path))
        facts = bench.host_facts([0.5, 0.25, 0.125])
        assert facts["nproc"] == len(os.sched_getaffinity(0)) >= 1
        assert facts["loadavg_before"] == [0.5, 0.25, 0.125]
        assert len(facts["loadavg_after"]) == 3
        assert facts["git_head"] is None and facts["git_dirty"] is None
        assert json.loads(json.dumps(facts)) == facts

    def test_head_and_dirty_flag(self, tmp_path, monkeypatch):
        import bench

        def git(*args):
            subprocess.run(["git", "-C", str(tmp_path), "-c", "user.name=t",
                            "-c", "user.email=t@t", *args],
                           check=True, capture_output=True)
        (tmp_path / "f.py").write_text("x = 1\n")
        git("init", "-q")
        git("add", "f.py")
        git("commit", "-qm", "one")
        monkeypatch.setattr(bench, "REPO", str(tmp_path))
        clean = bench.host_facts([0.0, 0.0, 0.0])
        assert len(clean["git_head"]) == 40 and clean["git_dirty"] is False
        (tmp_path / "f.py").write_text("x = 2\n")
        dirty = bench.host_facts([0.0, 0.0, 0.0])
        assert dirty["git_head"] == clean["git_head"] and dirty["git_dirty"]


class TestSkewStressStaging:
    def test_stage_path_keyed_by_generator_and_template(self, monkeypatch):
        # a synth.py or STAGE edit must not reuse a table the old code
        # staged
        import re

        import skew_stress
        digest = skew_stress.stage_digest()
        assert re.fullmatch(r"[0-9a-f]{12}", digest)
        monkeypatch.setattr(skew_stress, "STAGE", skew_stress.STAGE + "#")
        assert skew_stress.stage_digest() != digest
