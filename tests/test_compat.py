"""Compat suite: mirrors the reference's pytest classes/fixtures
(reference tests/test_catch.py, indexed in SURVEY.md §5 and FIXTURES.md
§B) against tstoken.compat — same inputs, same assertions."""

import numpy as np
import pandas as pd
import pytest

from tstoken import compat
from tstoken.compat import DataValidationError


@pytest.fixture
def sample_5d():
    # mirrors reference tests/test_catch.py:13-19
    return pd.DataFrame({
        "date": pd.date_range("2022-01-01", periods=5, freq="D"),
        "count": [10, 20, 30, 40, 50]})


class TestCheckAndConvertDate:
    # mirrors TestCheckAndConvertDate (test_catch.py:22-50)
    def test_converts_and_indexes(self, sample_5d):
        out = compat.check_and_convert_date(sample_5d)
        assert isinstance(out.index, pd.DatetimeIndex)
        assert len(out) == 5

    def test_string_dates(self):
        df = pd.DataFrame({"d": ["2022-01-01", "2022-01-02"], "v": [1, 2]})
        out = compat.check_and_convert_date(df)
        assert isinstance(out.index, pd.DatetimeIndex)

    def test_none_and_empty_raise(self):
        with pytest.raises(DataValidationError):
            compat.check_and_convert_date(None)
        with pytest.raises(DataValidationError):
            compat.check_and_convert_date(pd.DataFrame())

    def test_invalid_dates_raise(self):
        df = pd.DataFrame({"d": ["not-a-date", "also-bad"], "v": [1, 2]})
        with pytest.raises(DataValidationError):
            compat.check_and_convert_date(df)


class TestFindOutliersIQR:
    # mirrors TestFindOutliersIQR (test_catch.py:53-91)
    def test_exact_outlier(self):
        df = pd.DataFrame({
            "date": pd.date_range("2022-01-01", periods=5, freq="D"),
            "count": [1, 2, 3, 100, 4]})
        out = compat.find_outliers_iqr(df)
        assert len(out) == 1
        assert out.iloc[0, -1] == 100

    def test_normal_rate(self):
        np.random.seed(42)
        df = pd.DataFrame({
            "date": pd.date_range("2020-01-01", periods=1000, freq="D"),
            "count": np.random.normal(0, 1, 1000)})
        rate = len(compat.find_outliers_iqr(df)) / 1000
        assert 0.001 <= rate <= 0.02

    def test_none_raises(self):
        with pytest.raises(DataValidationError):
            compat.find_outliers_iqr(None)


class TestAnomalyMAD:
    # mirrors TestAnomalyMAD (test_catch.py:93-117)
    def test_rate(self):
        np.random.seed(42)
        flags = compat.anomaly_mad(np.random.normal(0, 1, 1000))
        assert 0.001 <= flags.mean() <= 0.1

    def test_empty_raises(self):
        with pytest.raises(DataValidationError):
            compat.anomaly_mad(np.array([]))


class TestGetResiduals:
    # mirrors TestGetResiduals (test_catch.py:119-153)
    def test_removes_nan(self):
        class M:
            resid = pd.Series([1.0, np.nan, 2.0])
        out = compat.get_residuals(M())
        assert out.tolist() == [1.0, 2.0]

    def test_all_nan_raises(self):
        class M:
            resid = pd.Series([np.nan, np.nan])
        with pytest.raises(ValueError):
            compat.get_residuals(M())

    def test_none_raises(self):
        with pytest.raises(DataValidationError):
            compat.get_residuals(None)


class TestSumOfSquares:
    # mirrors TestSumOfSquares (test_catch.py:155-184): sum([1..4]^2)=30
    def test_known(self):
        assert compat.sum_of_squares(np.array([1, 2, 3, 4])) == 30.0

    def test_2d_flattened(self):
        assert compat.sum_of_squares(np.array([[1, 2], [3, 4]])) == 30.0

    def test_type_and_empty(self):
        with pytest.raises(TypeError):
            compat.sum_of_squares([1, 2, 3])
        with pytest.raises(DataValidationError):
            compat.sum_of_squares(np.array([]))


class TestGetSSACF:
    # mirrors TestGetSSACF (test_catch.py:186-216)
    def test_positive(self):
        np.random.seed(42)
        assert compat.get_ssacf(np.random.normal(size=500), "t") > 0

    def test_type_check(self):
        with pytest.raises(TypeError):
            compat.get_ssacf([1, 2, 3], "t")


class TestDetectOutliersClassic:
    # mirrors TestDetectOutliersClassic routing (test_catch.py:321-490)
    def _series(self, periods, freq, seed=42):
        np.random.seed(seed)
        return pd.DataFrame({
            "date": pd.date_range("2020-01-01", periods=periods, freq=freq),
            "count": np.random.normal(100, 10, periods)})

    def test_daily_3y_routes_seasonal(self, monkeypatch):
        called = {}
        monkeypatch.setattr(compat, "decompose_and_detect",
                            lambda df, sentinel=True: called.setdefault("s", df))
        compat.detect_outliers_classic(self._series(1096, "D"))
        assert "s" in called

    def test_short_1y_routes_iqr(self, monkeypatch):
        called = {}
        monkeypatch.setattr(compat, "detect_outliers_iqr",
                            lambda df, sentinel=True: called.setdefault("i", df))
        compat.detect_outliers_classic(self._series(365, "D"))
        assert "i" in called

    @pytest.mark.parametrize("periods,freq", [
        (729, "D"), (519, "B"), (23, "MS"), (7, "QS"), (103, "W")])
    def test_borderline_routes_iqr(self, monkeypatch, periods, freq):
        # mirrors borderline parametrization (test_catch.py:470-490)
        called = {}
        monkeypatch.setattr(compat, "detect_outliers_iqr",
                            lambda df, sentinel=True: called.setdefault("i", df))
        compat.detect_outliers_classic(self._series(periods, freq))
        assert "i" in called

    def test_duplicate_dates_raise(self):
        df = pd.DataFrame({"date": ["2022-01-01", "2022-01-01"],
                           "count": [1, 2]})
        with pytest.raises(DataValidationError):
            compat.detect_outliers_classic(df)

    def test_none_raises(self):
        with pytest.raises(DataValidationError):
            compat.detect_outliers_classic(None)

    def test_monthly_3y_detects_planted(self):
        np.random.seed(42)
        n = 36
        df = pd.DataFrame({
            "date": pd.date_range("2020-01-01", periods=n, freq="MS"),
            "count": np.random.normal(100, 5, n)})
        df.loc[18, "count"] = 500.0
        out = compat.detect_outliers_classic(df)
        assert isinstance(out, pd.DataFrame)
        assert 500.0 in out.iloc[:, -1].values


class TestDetectOutliersIQRWrapper:
    # mirrors TestDetectOutliersIQR (test_catch.py:539-624)
    def test_flags_1000(self):
        df = pd.DataFrame({
            "date": pd.date_range("2022-01-01", periods=10, freq="D"),
            "count": [10, 12, 11, 13, 1000, 11, 12, 13, 11, 12]})
        out = compat.detect_outliers_iqr(df)
        assert isinstance(out, pd.DataFrame)
        assert 1000 in out.iloc[:, -1].values

    def test_sentinel_when_clean(self):
        df = pd.DataFrame({
            "date": pd.date_range("2022-01-01", periods=5, freq="D"),
            "count": [10, 11, 12, 11, 10]})
        assert compat.detect_outliers_iqr(df) == compat.NO_OUTLIERS


class TestCalculateRmse:
    # mirrors TestCalculateRmse (test_catch.py:626-684)
    def test_sine_low_rmse(self):
        df = pd.DataFrame({
            "date": pd.date_range("2022-01-01", periods=100, freq="D"),
            "count": np.sin(np.linspace(0, 10, 100)) * 100 + 500})
        rmse = compat.calculate_rmse(df, 7)
        assert np.isfinite(rmse) and rmse < 50

    def test_window_validation(self):
        df = pd.DataFrame({"d": [1], "v": [1]})
        with pytest.raises(TypeError):
            compat.calculate_rmse(df, "3")
        with pytest.raises(ValueError):
            compat.calculate_rmse(df, 0)


class TestCalculateOptimalWindowSize:
    # mirrors TestCalculateOptimalWindowSize (test_catch.py:686-801)
    def test_in_range(self):
        df = pd.DataFrame({
            "date": pd.date_range("2022-01-01", periods=100, freq="D"),
            "count": np.sin(np.linspace(0, 10, 100)) * 100 + 500})
        w = compat.calculate_optimal_window_size(df)
        assert isinstance(w, int) and 2 <= w <= 20

    def test_constant_series(self):
        # mirrors constant_50 fixture (test_catch.py:756-765)
        df = pd.DataFrame({
            "date": pd.date_range("2022-01-01", periods=50, freq="D"),
            "count": [10] * 50})
        w = compat.calculate_optimal_window_size(df)
        assert isinstance(w, int) and 2 <= w <= 20

    def test_too_short_raises(self):
        # mirrors min_7 fixture (test_catch.py:744-754)
        df = pd.DataFrame({
            "date": pd.date_range("2022-01-01", periods=7, freq="D"),
            "count": [1, 2, 3, 4, 5, 6, 7]})
        with pytest.raises(ValueError, match="All RMSE values are NaN"):
            compat.calculate_optimal_window_size(df)


class TestDetectOutliersMovingAverage:
    # mirrors TestDetectOutliersMovingAverage (test_catch.py:803-855)
    def test_flags_spike(self):
        df = pd.DataFrame({
            "date": pd.date_range("2022-01-01", periods=30, freq="D"),
            "count": [10, 12, 11, 13, 11, 12, 13, 11, 12, 11] * 3})
        df.loc[15, "count"] = 100
        out = compat.detect_outliers_moving_average(df)
        assert out is None or isinstance(out, pd.DataFrame)


class TestDetectOutliersSTL:
    # mirrors TestDetectOutliersSTL (test_catch.py:857-960)
    def test_daily_spike_recovered(self):
        np.random.seed(42)
        n = 730
        df = pd.DataFrame({
            "date": pd.date_range("2020-01-01", periods=n, freq="D"),
            "count": 100 + 50 * np.sin(np.linspace(0, 10, n))
            + np.random.uniform(0, 10, n)})
        df.loc[100, "count"] = 1000.0
        out = compat.detect_outliers_stl(df)
        assert isinstance(out, pd.DataFrame)
        assert 1000.0 in out.iloc[:, -1].values

    def test_monthly_spike_recovered(self):
        np.random.seed(42)
        n = 24
        df = pd.DataFrame({
            "date": pd.date_range("2020-01-31", periods=n, freq="ME"),
            "count": 100 + 50 * np.sin(np.linspace(0, 2, n))
            + np.random.uniform(0, 10, n)})
        df.loc[5, "count"] = 1000.0
        out = compat.detect_outliers_stl(df)
        assert isinstance(out, pd.DataFrame)
        assert 1000.0 in out.iloc[:, -1].values

    def test_short_falls_back_to_iqr(self):
        np.random.seed(42)
        df = pd.DataFrame({
            "date": pd.date_range("2022-01-01", periods=100, freq="D"),
            "count": np.random.normal(100, 5, 100)})
        df.loc[50, "count"] = 1000.0
        out = compat.detect_outliers_stl(df)
        assert isinstance(out, pd.DataFrame)
        assert 1000.0 in out.iloc[:, -1].values


class TestDetectOutliersMSTL:
    def test_daily_spike(self):
        np.random.seed(42)
        n = 730
        df = pd.DataFrame({
            "date": pd.date_range("2020-01-01", periods=n, freq="D"),
            "count": 100 + 50 * np.sin(np.linspace(0, 10, n))
            + np.random.uniform(0, 10, n)})
        df.loc[100, "count"] = 1000.0
        out = compat.detect_outliers_mstl(df)
        assert isinstance(out, pd.DataFrame)
        assert 1000.0 in out.iloc[:, -1].values


class TestOneFitPerModel:
    """The STL/MSTL detectors fit the Box-Cox and the raw series once
    each and flag the residuals of the model they pick, without
    refitting it."""

    @pytest.mark.parametrize("detector, fit", [
        ("detect_outliers_stl", "stl_fit"),
        ("detect_outliers_mstl", "mstl_fit")])
    def test_two_fits_per_call(self, monkeypatch, detector, fit):
        rng = np.random.default_rng(7)
        n = 800
        y = 100 + 10 * np.sin(2 * np.pi * np.arange(n) / 7) \
            + rng.normal(0, 2, n)
        y[n // 2] += 80
        df = pd.DataFrame({
            "dt": pd.date_range("2021-01-01", periods=n, freq="D"),
            "cnt": y})
        real, calls = getattr(compat, fit), []

        def counted(*args, **kwargs):
            calls.append(1)
            return real(*args, **kwargs)

        monkeypatch.setattr(compat, fit, counted)
        out = getattr(compat, detector)(df)
        assert isinstance(out, pd.DataFrame) and not out.empty
        assert len(calls) == 2


class TestDetectOutliersESD:
    def test_normal_with_spikes(self):
        np.random.seed(42)
        n = 400
        df = pd.DataFrame({
            "date": pd.date_range("2022-01-01", periods=n, freq="D"),
            "count": np.random.normal(100, 5, n)})
        df.loc[123, "count"] = 200.0
        out = compat.detect_outliers_esd(df)
        assert isinstance(out, pd.DataFrame)
        assert 200.0 in out.iloc[:, -1].values


class TestTodayLatest:
    def test_latest_returns_tail(self):
        df = pd.DataFrame({
            "date": pd.date_range("2022-01-01", periods=10, freq="D"),
            "count": [10, 12, 11, 13, 1000, 11, 12, 13, 11, 900]})
        out = compat.detect_outliers_latest_classic(df)
        assert isinstance(out, pd.DataFrame) and len(out) == 1

    def test_today_with_injected_clock(self):
        dates = pd.date_range("2022-01-01", periods=10, freq="D")
        df = pd.DataFrame({"date": dates,
                           "count": [10, 12, 11, 13, 11, 12, 13, 11, 12, 900]})
        out = compat.detect_outliers_today_classic(
            df, now=pd.Timestamp("2022-01-10"))
        assert isinstance(out, pd.DataFrame)
        out2 = compat.detect_outliers_today_classic(
            df, now=pd.Timestamp("2023-06-01"))
        assert out2 == "No Outliers Today!"


class TestDetectTsFrequency:
    def test_daily(self):
        df = pd.DataFrame({
            "date": pd.date_range("2020-01-01", periods=800, freq="D"),
            "count": np.arange(800)})
        assert compat.detect_ts_frequency(df) == 365

    def test_monthly(self):
        df = pd.DataFrame({
            "date": pd.date_range("2020-01-01", periods=30, freq="MS"),
            "count": np.arange(30)})
        assert compat.detect_ts_frequency(df) == 12

    def test_too_short_none(self):
        df = pd.DataFrame({
            "date": pd.date_range("2020-01-01", periods=10, freq="D"),
            "count": np.arange(10)})
        assert compat.detect_ts_frequency(df) is None


class TestBuildDecompositionResults:
    # mirrors diagnostics build_decomposition_results (diagnostics.py:322-388)
    def test_columns(self):
        np.random.seed(42)
        n = 800
        df = pd.DataFrame({
            "date": pd.date_range("2020-01-01", periods=n, freq="D"),
            "count": 100 + 10 * np.sin(np.linspace(0, 20, n))
            + np.random.normal(0, 1, n)})
        out = compat.build_decomposition_results(df)
        assert list(out.columns) == ["seasonal", "trend", "residuals",
                                     "actual_values"]
        assert len(out) == n

    def test_short_returns_none(self):
        df = pd.DataFrame({
            "date": pd.date_range("2022-01-01", periods=100, freq="D"),
            "count": np.arange(100.0)})
        assert compat.build_decomposition_results(df) is None


class TestTodayLatestMstl:
    """Reference catch.py:1450-1505 wrappers."""

    def _df(self):
        dates = pd.date_range("2023-01-01", periods=740, freq="D")
        rng = np.random.default_rng(9)
        vals = 100 + 10 * np.sin(2 * np.pi * np.arange(740) / 7) \
            + rng.normal(0, 2, 740)
        vals[-1] = 500.0
        return pd.DataFrame({"dt": dates, "cnt": vals})

    def test_latest_mstl_returns_last_outlier(self):
        from tstoken.compat import detect_outliers_latest_mstl
        r = detect_outliers_latest_mstl(self._df())
        assert isinstance(r, pd.DataFrame) and len(r) == 1
        assert float(r.iloc[-1, -1]) == 500.0

    def test_today_mstl_respects_injected_clock(self):
        from tstoken.compat import detect_outliers_today_mstl
        df = self._df()
        hit = detect_outliers_today_mstl(df, now=pd.Timestamp("2025-01-09"))
        miss = detect_outliers_today_mstl(df, now=pd.Timestamp("2030-06-01"))
        assert isinstance(hit, pd.DataFrame)
        assert miss == "No Outliers Today!"


class TestConductStationarityCheck:
    """Reference diagnostics.py:262-319."""

    def test_prints_verdicts_and_returns_dict(self, capsys):
        from tstoken.compat import conduct_stationarity_check
        dates = pd.date_range("2023-01-01", periods=400, freq="D")
        rng = np.random.default_rng(1)
        df = pd.DataFrame({"dt": dates, "cnt": rng.normal(100, 5, 400)})
        v = conduct_stationarity_check(df)
        out = capsys.readouterr().out
        assert "ADF - The series is Stationary" in out
        assert "KPSS - The series is Stationary" in out
        assert v["adf_stationary"] and v["kpss_stationary"]

    def test_random_walk_flagged_not_stationary(self, capsys):
        from tstoken.compat import conduct_stationarity_check
        dates = pd.date_range("2023-01-01", periods=600, freq="D")
        rng = np.random.default_rng(4)
        df = pd.DataFrame({"dt": dates,
                           "cnt": np.cumsum(rng.normal(0, 1, 600)) + 100})
        v = conduct_stationarity_check(df)
        assert not v["adf_stationary"]
        assert "ADF - The series is not Stationary" in capsys.readouterr().out
