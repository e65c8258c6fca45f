"""Unit tests for the measurement/verification tooling itself — the
round-1 lesson was that a lenient local checker hides driver failures,
so the tooling's own semantics deserve tests. No Spark needed."""

import os
import sys

import pandas as pd
import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(REPO, "tools"))
sys.path.insert(0, os.path.join(REPO, "BENCH"))


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


class TestRenderRobustness:
    def _summary_one_pair(self):
        lv32 = {"cpus": 32, "rows": 100, "walls": [2.0], "wall_sec": 2.0,
                "points_per_sec": 50.0, "raw_rows_per_sec": 50.0}
        lv8 = {"cpus": 8, "rows": 100, "walls": [6.0], "wall_sec": 6.0,
               "points_per_sec": 16.7, "raw_rows_per_sec": 16.7}
        return {"rows": 100, "merged_runs": 1, "iters_per_level": 1,
                "levels": {"local[8]": lv8, "local[32]": lv32},
                "calibration_runs": [{"2": 100, "8": 400, "32": 1600}],
                "cpu_calibration_units": {"2": 100, "8": 400, "32": 1600}}

    def test_partial_levels_render_without_keyerror(self):
        # a --levels 8,32 run has no 2->8 pair; render must not crash
        # (the old f-string KeyError'd AFTER truncating BASELINE.md)
        import scaling
        s = scaling.recompute_verdicts(self._summary_one_pair())
        md = scaling.render_md(s)
        assert "n/a (level not measured)" in md
        assert "local[8] -> local[32]" in md

    def test_verdict_context_tracks_passes(self):
        import scaling
        s = scaling.recompute_verdicts(self._summary_one_pair())
        # raw eff 8->32 = 6/(4*2) = 0.75, ceiling 1.0 -> FAIL branch
        md = scaling.render_md(s)
        assert "the table says FAIL" in md
        s["pass_2_to_8"] = s["pass_8_to_32"] = True
        assert "Both N->4N pairs meet the criterion" in scaling.render_md(s)
