"""Spark-side engine tests: synth exactness, rollup-vs-oracle equality,
tier cascade, gap-fill, source partitioning, detector F1, codec
round-trip through Spark, retention (SURVEY.md §5 engine test plan)."""

import os
import re
from datetime import datetime, timedelta

import numpy as np
import pandas as pd
import pytest
from pyspark.errors import ArithmeticException
from pyspark.sql import functions as F

from tstoken import detect, gapfill, rollup, synth

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROWS = 12_000
SOURCES = 4


@pytest.fixture(scope="module")
def raw(spark):
    df = synth.generate_tokens_raw(spark, ROWS, n_sources=SOURCES).cache()
    df.count()
    yield df
    df.unpersist()


@pytest.fixture(scope="module")
def oracle_pdf():
    return synth.generate_tokens_raw_pandas(ROWS, n_sources=SOURCES)


@pytest.fixture(scope="module")
def t1m(spark, raw):
    df = rollup.rollup_1m(raw).cache()
    df.count()
    yield df
    df.unpersist()


def oracle_rollup_1m(pdf: pd.DataFrame) -> pd.DataFrame:
    pdf = pdf.copy()
    pdf["step"] = pdf["source"].str[4:7].astype(int).map(lambda i: 3 + (i * 7) % 43)
    pdf["minute"] = (pdf["seq"] * pdf["step"]) // 60
    pdf["bucket_ts"] = (pd.Timestamp("2024-01-01")
                        + pd.to_timedelta(pdf["minute"] * 60, unit="s"))
    pdf["tok_sq"] = pdf["tokens"].map(
        lambda a: int((a.astype(np.int64) ** 2).sum()))
    return (pdf.groupby(["source", "bucket_ts"])
            .agg(n_docs=("n_tok", "size"), sum_n_tok=("n_tok", "sum"),
                 min_n_tok=("n_tok", "min"), max_n_tok=("n_tok", "max"),
                 sum_tok_sq=("tok_sq", "sum"))
            .reset_index()
            .sort_values(["source", "bucket_ts"]).reset_index(drop=True))


class TestSynth:
    def test_row_identity_vs_pandas_oracle(self, raw, oracle_pdf):
        sdf = raw.select("doc_id", "n_tok").toPandas() \
            .sort_values("doc_id").reset_index(drop=True)
        odf = oracle_pdf[["doc_id", "n_tok"]] \
            .sort_values("doc_id").reset_index(drop=True)
        assert len(sdf) == len(odf)
        assert (sdf["doc_id"] == odf["doc_id"]).all()
        assert (sdf["n_tok"].astype(int) == odf["n_tok"].astype(int)).all()

    def test_token_array_equality(self, raw, oracle_pdf):
        # per-row token-array invariant (BASELINE input_hint)
        samp = raw.select("doc_id", "tokens").limit(300).toPandas()
        om = oracle_pdf.set_index("doc_id")
        for _, row in samp.iterrows():
            assert np.array_equal(np.array(row["tokens"]),
                                  om.loc[row["doc_id"], "tokens"])

    def test_zipf_skew(self, raw):
        counts = raw.groupBy("source").count().toPandas() \
            .set_index("source")["count"]
        assert counts["src-000"] > 0.3 * counts.sum()  # hot key exists

    def test_ground_truth_table(self, spark):
        gt = synth.ground_truth(spark, ROWS, n_sources=SOURCES).toPandas()
        assert set(gt["kind"]) <= {"spike", "drop"}
        assert len(gt) > 0

    def test_seeded_regime_matches_pandas_oracle(self, spark):
        # the regime knobs (held-out F1 harness) must keep the Spark
        # generator and the NumPy oracle row-identical, not just the
        # defaults — both mixes fold the seed offset congruently. At
        # spike_mult=20 a spiked doc holds more than 47,596 tokens, where
        # an int token sequence would overflow.
        for spike_mult in (5.0, 20.0):
            kw = dict(seed=3, anomaly_period=100, spike_mult=spike_mult,
                      drop_mult=0.2, zipf_exp=1.6)
            gen = synth.generate_tokens_raw(spark, 8000, n_sources=SOURCES,
                                            **kw)
            assert gen.schema.simpleString() == ("struct<doc_id:string,"
                                                 "tokens:array<int>,n_tok:int,"
                                                 "source:string>")
            assert not gen.schema["tokens"].nullable
            sdf = gen.toPandas().sort_values("doc_id").reset_index(drop=True)
            odf = synth.generate_tokens_raw_pandas(8000, n_sources=SOURCES,
                                                   **kw) \
                .sort_values("doc_id").reset_index(drop=True)
            assert len(sdf) == len(odf)
            assert (sdf["doc_id"] == odf["doc_id"]).all()
            assert (sdf["n_tok"].astype(int) == odf["n_tok"].astype(int)).all()
            assert all(np.array_equal(a, b)
                       for a, b in zip(sdf["tokens"], odf["tokens"]))
        assert odf["n_tok"].max() > 47_596
        # and a seeded table differs from the seed-0 one (the knob bites)
        base = synth.generate_tokens_raw_pandas(8000, n_sources=SOURCES)
        assert not odf["doc_id"].equals(
            base[["doc_id"]].sort_values("doc_id")
            .reset_index(drop=True)["doc_id"]) or \
            not odf["n_tok"].reset_index(drop=True).equals(
                base.sort_values("doc_id")["n_tok"].astype(odf["n_tok"].dtype)
                .reset_index(drop=True))

    def test_staged_path_keyed_by_synth_source(self, spark, tmp_path,
                                               monkeypatch):
        import hashlib
        import tempfile

        monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
        with open(synth.__file__, "rb") as f:
            digest = hashlib.sha256(f.read()).hexdigest()
        path = synth.stage_tokens_raw(spark, 300, n_sources=2)
        assert os.path.basename(path) == f"tstoken_raw_300_2_{digest[:12]}"
        assert spark.read.parquet(path).count() == \
            synth.generate_tokens_raw(spark, 300, n_sources=2).count()

        # a second call reuses the staged table: it generates nothing
        def no_generation(*args, **kwargs):
            raise AssertionError("staged table rewritten")

        monkeypatch.setattr(synth, "generate_tokens_raw", no_generation)
        assert synth.stage_tokens_raw(spark, 300, n_sources=2) == path


class TestSession:
    def test_default_driver_memory(self, tmp_path):
        from tstoken.session import default_driver_memory
        mi = tmp_path / "meminfo"
        mi.write_text("MemTotal:       16384000 kB\nMemFree: 1 kB\n")
        assert default_driver_memory(str(mi)) == \
            f"{16384000 // 2 // 1024}m"
        mi.write_text("MemTotal:       268435456 kB\n")
        assert default_driver_memory(str(mi)) == "49152m"
        assert default_driver_memory(str(tmp_path / "missing")) == "49152m"

    @pytest.fixture(scope="class")
    def fresh_process(self):
        # a new interpreter with no PYTHONPATH: get_spark alone must put
        # tstoken on the Python workers and leave the environment as is
        import json
        import subprocess
        import sys
        import textwrap

        code = textwrap.dedent("""\
            import json, os, sys
            from datetime import datetime, timedelta
            sys.path.insert(0, sys.argv[1])
            from tstoken import detect, multimodal
            from tstoken.session import get_spark
            spark = get_spark("ship-check", "local[2]")
            env = os.environ.get("PYTHONPATH")
            rows = [("s", datetime(2024, 1, 1) + timedelta(minutes=i),
                     float(i % 7 + 40 * (i == 100))) for i in range(200)]
            tier = spark.createDataFrame(
                rows, "source string, bucket_ts timestamp, sum_n_tok double")
            fl = detect.grouped_flags(tier, "1m", "stl_z").toPandas()
            feats = multimodal.extract_features(
                multimodal.synth_media(spark, 12)).toPandas()
            print(json.dumps({
                "pythonpath": env,
                "partitions": spark.conf.get("spark.sql.shuffle.partitions"),
                "methods": sorted(set(fl["method"])), "flags": len(fl),
                "features": len(feats), "decoded": int(feats["decoded"].sum()),
            }))
            spark.stop()
        """)
        env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
        env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
        out = subprocess.run(
            [sys.executable, "-c", code, os.path.join(REPO, "src")],
            capture_output=True, text=True, timeout=600, env=env)
        assert out.returncode == 0, out.stderr[-3000:]
        return json.loads(out.stdout.strip().splitlines()[-1])

    def test_get_spark_ships_package_without_pythonpath(self, fresh_process):
        assert fresh_process["pythonpath"] is None
        assert fresh_process["methods"] == ["stl_z"]
        assert fresh_process["flags"] == 200
        assert fresh_process["features"] == 12
        assert fresh_process["decoded"] == 12

    def test_shuffle_partitions_default_from_context(self, fresh_process):
        # local[2]: defaultParallelism 2, floored at 8
        assert fresh_process["partitions"] == "8"

    def test_second_get_spark_ships_once(self, spark):
        from tstoken.session import get_spark
        sc = spark.sparkContext
        assert sc._python_includes.count("tstoken.zip") == 1
        again = get_spark("tstoken-tests", master="local[8]",
                          shuffle_partitions=8)
        assert again.sparkContext is sc
        assert sc._python_includes.count("tstoken.zip") == 1


class TestRollup:
    def test_1m_exact_vs_oracle(self, t1m, oracle_pdf):
        r = t1m.toPandas().sort_values(["source", "bucket_ts"]) \
            .reset_index(drop=True)
        g = oracle_rollup_1m(oracle_pdf)
        assert len(r) == len(g)
        r["bucket_ts"] = pd.to_datetime(r["bucket_ts"])
        for c in ["n_docs", "sum_n_tok", "min_n_tok", "max_n_tok",
                  "sum_tok_sq"]:
            assert (r[c].to_numpy() == g[c].to_numpy()).all(), c
        assert (r["bucket_ts"].to_numpy() == g["bucket_ts"].to_numpy()).all()

    def test_hot_source_exact_vs_oracle(self, spark):
        # a Zipf-hot source (~70% of rows) lands in one task of the
        # source-partitioned output; all five aggregates stay exact, and
        # the ignored `n_salts` keyword is still accepted
        kw = dict(n_sources=SOURCES, zipf_exp=2.0)
        raw = synth.generate_tokens_raw(spark, 6000, **kw)
        pdf = synth.generate_tokens_raw_pandas(6000, **kw)
        assert (pdf["source"] == "src-000").mean() > 0.6
        r = rollup.rollup_1m(raw, n_salts=8).toPandas() \
            .sort_values(["source", "bucket_ts"]).reset_index(drop=True)
        g = oracle_rollup_1m(pdf)
        assert len(r) == len(g)
        for c in ["n_docs", "sum_n_tok", "min_n_tok", "max_n_tok",
                  "sum_tok_sq"]:
            assert (r[c].to_numpy() == g[c].to_numpy()).all(), c

    def test_cascade_preserves_totals(self, t1m):
        t1h = rollup.rollup_cascade(t1m, "1h")
        t1d = rollup.rollup_cascade(t1h, "1d")
        a = t1m.agg(F.sum("n_docs"), F.sum("sum_n_tok"),
                    F.sum("sum_tok_sq")).collect()[0]
        for tier in (t1h, t1d):
            b = tier.agg(F.sum("n_docs"), F.sum("sum_n_tok"),
                         F.sum("sum_tok_sq")).collect()[0]
            assert tuple(a) == tuple(b)
        # min/max consistency
        m1 = t1m.agg(F.min("min_n_tok"), F.max("max_n_tok")).collect()[0]
        m2 = t1d.agg(F.min("min_n_tok"), F.max("max_n_tok")).collect()[0]
        assert tuple(m1) == tuple(m2)

    def test_bucket_uniqueness(self, t1m):
        dup = (t1m.groupBy("source", "bucket_ts").count()
               .filter("count > 1").count())
        assert dup == 0


class TestTokenPipeline:
    def test_job_file_loads_as_a_script(self):
        # spark-submit runs the job file as a script (no parent package);
        # PYTHONPATH=src stands in for --py-files. Loading it defines the
        # campaign without starting Spark.
        import subprocess
        import sys

        src = os.path.join(REPO, "src")
        code = ("import runpy, sys; g = runpy.run_path(sys.argv[1], "
                "run_name='not_main'); print(callable(g['main']))")
        out = subprocess.run(
            [sys.executable, "-c", code,
             os.path.join(src, "tstoken", "jobs", "pipeline.py")],
            capture_output=True, text=True, timeout=300,
            env=dict(os.environ, PYTHONPATH=src))
        assert out.returncode == 0, out.stderr[-2000:]
        assert out.stdout.strip() == "True"

    def test_rolled_points_and_phases(self, spark, raw, tmp_path):
        from tstoken.jobs.pipeline import token_pipeline
        staged = str(tmp_path / "staged")
        raw.write.parquet(staged)
        tiers = rollup.build_all_tiers(spark.read.parquet(staged))
        first = token_pipeline(spark, staged)
        assert first["rolled_points"] == sum(t.count()
                                             for t in tiers.values())
        assert set(first["phases"]) == {"rollup_1m", "cascades",
                                        "gapfill_flags", "total"}
        # the next run drops the previous run's cached 1m tier first, so
        # no run reads a cache
        second = token_pipeline(spark, staged, first)
        assert not first["t1m"].is_cached and second["t1m"].is_cached
        assert second["rolled_points"] == first["rolled_points"]
        second["t1m"].unpersist()

    def test_f1_scores_drops_gaps_and_unseen_truth(self, spark):
        from tstoken.jobs.pipeline import f1_scores

        def ts(m):
            return datetime(2024, 1, 1) + timedelta(minutes=m)

        # tier: minutes 0-9, minutes 3 and 4 gap-filled
        gf = spark.createDataFrame(
            [("s", ts(m), m in (3, 4)) for m in range(10)],
            "source string, bucket_ts timestamp, gap_filled boolean")
        # truth on minutes 1, 2 (observed), 3 (gap-filled), 20 (not in
        # the tier): only 1 and 2 count
        truth = spark.createDataFrame(
            [("s", ts(m)) for m in (1, 2, 3, 20)],
            "source string, bucket_ts timestamp")

        def flags(hits):
            return spark.createDataFrame(
                [("s", ts(m), m in hits) for m in range(10)],
                "source string, bucket_ts timestamp, is_outlier boolean")

        n_truth, f1 = f1_scores(
            # gap hits 3 and 4 are dropped: predictions {1, 5, 6, 7},
            # precision 1/4, recall 1/2
            {"mixed": flags({1, 3, 4, 5, 6, 7}), "none": flags(set()),
             "exact": flags({1, 2, 3})}, truth, gf)
        assert n_truth == 2
        assert f1 == {"mixed": round(1 / 3, 4), "none": 0.0, "exact": 1.0}


class TestGapFill:
    def test_dense_axis(self, t1m):
        gf = gapfill.gap_fill(t1m, "1m").toPandas()
        for src, grp in gf.groupby("source"):
            ts = pd.to_datetime(grp["bucket_ts"]).sort_values()
            deltas = ts.diff().dropna().dt.total_seconds()
            assert (deltas == 60).all(), src
        filled = gf[gf["gap_filled"]]
        assert len(filled) > 0  # synth plants 1% gap minutes
        assert (filled["n_docs"] == 0).all()
        assert filled["min_n_tok"].isna().all()

    def test_original_rows_untouched(self, t1m):
        gf = gapfill.gap_fill(t1m, "1m")
        a = gf.filter(~F.col("gap_filled")).agg(
            F.sum("sum_n_tok"), F.count(F.lit(1))).collect()[0]
        b = t1m.agg(F.sum("sum_n_tok"), F.count(F.lit(1))).collect()[0]
        assert tuple(a) == tuple(b)

    def test_duplicate_and_null_buckets(self, spark):
        # a duplicated bucket keeps both rows and is not a hole; a NULL
        # bucket is dropped; a one-row source stays one row
        t0 = datetime(2024, 1, 1)
        m = [timedelta(minutes=i) for i in range(4)]
        rows = [("a", t0, 1), ("a", t0, 2), ("a", t0 + m[3], 3),
                ("b", t0, 4), ("c", None, 5), ("c", t0 + m[2], 6)]
        df = spark.createDataFrame(
            [(s, ts, n, n, n, n, n, False) for s, ts, n in rows],
            "source string, bucket_ts timestamp, n_docs long, sum_n_tok long, "
            "min_n_tok int, max_n_tok int, sum_tok_sq long, gap_filled boolean")
        got = sorted(tuple(r) for r in gapfill.gap_fill(df, "1m")
                     .select("source", "bucket_ts", "n_docs", "gap_filled")
                     .collect())
        assert got == [("a", t0, 1, False), ("a", t0, 2, False),
                       ("a", t0 + m[1], 0, True), ("a", t0 + m[2], 0, True),
                       ("a", t0 + m[3], 3, False), ("b", t0, 4, False),
                       ("c", t0 + m[2], 6, False)]


def _plan_nodes(plan, into_cache=False):
    """Physical nodes of an executed plan, through adaptive query stages;
    a cached relation's own plan only when `into_cache`."""
    name = plan.getClass().getSimpleName()
    if name == "AdaptiveSparkPlanExec":
        yield from _plan_nodes(plan.executedPlan(), into_cache)
        return
    yield plan
    if name.endswith("QueryStageExec"):
        kids = [plan.plan()]
    elif name == "InMemoryTableScanExec" and into_cache:
        kids = [plan.relation().cachedPlan()]
    else:
        kids = [plan.children().apply(i)
                for i in range(plan.children().size())]
    for k in kids:
        yield from _plan_nodes(k, into_cache)


def _exchanges(df, into_cache=False) -> list:
    """Shuffle and broadcast exchanges of `df`'s final adaptive plan."""
    df.collect()
    plan = df._jdf.queryExecution().executedPlan()
    return [n.toString() for n in _plan_nodes(plan, into_cache)
            if n.getClass().getSimpleName() in ("ShuffleExchangeExec",
                                                "BroadcastExchangeExec")]


class TestSourcePartitioning:
    """The 1m tier comes out hash-partitioned by `source`; every
    per-source operator over it inherits that and plans no shuffle."""

    def test_1m_output_partitioned_by_source_only(self, t1m):
        t1m.collect()
        root = next(_plan_nodes(t1m._jdf.queryExecution().executedPlan()))
        part = root.outputPartitioning().toString()
        assert re.fullmatch(r"hashpartitioning\(source#\d+, \d+\)", part), \
            part

    def test_1m_plans_two_exchanges(self, t1m):
        # one below the (source, bucket_ts) aggregate, one repartitioning
        # its output by source: no salt level; and one row per doc, so
        # no Generate (token explode) node
        ex = _exchanges(t1m, into_cache=True)
        assert len(ex) == 2, ex
        assert all(e.startswith("Exchange hashpartitioning") for e in ex), ex
        plan = t1m._jdf.queryExecution().executedPlan()
        nodes = {n.getClass().getSimpleName()
                 for n in _plan_nodes(plan, into_cache=True)}
        assert "InMemoryTableScanExec" in nodes, nodes
        assert "GenerateExec" not in nodes, nodes

    @pytest.mark.parametrize("tiers", [("1h",), ("1h", "1d")],
                             ids=["1h", "1d"])
    def test_cascade_plans_no_exchange(self, t1m, tiers):
        df = t1m
        for tier in tiers:
            df = rollup.rollup_cascade(df, tier)
        assert _exchanges(df) == []

    @pytest.mark.parametrize("name", ["iqr_flags", "mad_flags"])
    def test_gapfill_flags_plan_no_exchange(self, t1m, name):
        df = getattr(detect, name)(gapfill.gap_fill(t1m, "1m"))
        assert _exchanges(df) == []

    @pytest.mark.parametrize("docs", [
        # 2·(−2³¹)² = 2⁶³ overflows inside one doc's long Σtok²
        [("src-000-000000000001", [-2**31, -2**31], 2)],
        # each doc's Σtok² is 2⁶², their sum in the minute's row 2⁶³
        [("src-000-000000000001", [-2**31], 1),
         ("src-000-000000000002", [-2**31], 1)],
    ], ids=["in_doc", "across_docs"])
    def test_long_sum_overflow_raises(self, spark, docs):
        # Σtok² is a Spark long: overflow raises under ANSI
        raw = spark.createDataFrame(
            [(d, t, n, "src-000") for d, t, n in docs],
            "doc_id string, tokens array<int>, n_tok int, source string")
        with pytest.raises(ArithmeticException):
            rollup.rollup_1m(raw).collect()


class TestDetectors:
    @pytest.fixture(scope="class")
    def gf(self, spark, t1m):
        df = gapfill.gap_fill(t1m, "1m").cache()
        df.count()
        yield df
        df.unpersist()

    def test_iqr_matches_numpy(self, gf):
        fl = detect.iqr_flags(gf).toPandas()
        vals = gf.select("source", "bucket_ts", "sum_n_tok").toPandas()
        merged = fl.merge(vals, on=["source", "bucket_ts"])
        from tstoken.stats.dispersion import iqr_labels
        for src, grp in merged.groupby("source"):
            expect = iqr_labels(grp["sum_n_tok"].to_numpy(float))
            assert (grp["is_outlier"].to_numpy() == expect).all(), src

    def test_mad_matches_numpy(self, gf):
        fl = detect.mad_flags(gf).toPandas()
        vals = gf.select("source", "bucket_ts", "sum_n_tok").toPandas()
        merged = fl.merge(vals, on=["source", "bucket_ts"])
        from tstoken.stats.dispersion import mad_labels
        for src, grp in merged.groupby("source"):
            expect = mad_labels(grp["sum_n_tok"].to_numpy(float))
            assert (grp["is_outlier"].to_numpy() == expect).all(), src

    @pytest.fixture(scope="class")
    def tier_path(self, gf, tmp_path_factory):
        path = str(tmp_path_factory.mktemp("tier") / "t1m")
        gf.write.parquet(path)
        return path

    @staticmethod
    def _executed_plan(df) -> str:
        """Final adaptive plan of `df` after collecting it."""
        df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()
        return plan.split("== Initial Plan ==")[0]

    @pytest.mark.parametrize("name,scans,n_bhj", [
        ("iqr_flags", {1}, 0), ("zscore_flags", {1}, 0), ("mad_flags", {1}, 0),
        ("extrema_ensemble_flags", {1, 2}, 0), ("ma_flags", None, 1)],
        ids=["iqr", "zscore", "mad", "extrema", "ma"])
    def test_plan_reads_tier_once(self, spark, tier_path, name, scans, n_bhj):
        # per-source fences are window aggregates over the one input,
        # not a groupBy joined back (each join re-reads the input and
        # runs its broadcast as a separate job); the extrema ensemble
        # may read its tier twice (feature rows + gap rows), and
        # ma_flags keeps one broadcast for the CV window pick
        plan = self._executed_plan(
            getattr(detect, name)(spark.read.parquet(tier_path)))
        assert plan.count("BroadcastHashJoin") == n_bhj, plan
        assert scans is None or plan.count("Scan parquet") in scans, plan

    @pytest.fixture(scope="class")
    def edge_tier(self, spark):
        t0 = pd.Timestamp("2024-01-01")
        ordinary = [10, 12, 11, 13, 9, 10, 12, 40, 11, 10, 13, 12]
        series = {"const": [5] * 8, "spike": [5] * 7 + [50],
                  "single": [7], "ordinary": ordinary}
        rows = [(s, t0 + pd.Timedelta(minutes=i), v)
                for s, vals in series.items() for i, v in enumerate(vals)]
        return spark.createDataFrame(
            pd.DataFrame(rows, columns=["source", "bucket_ts", "sum_n_tok"])
        ), series

    @pytest.mark.parametrize("method", ["iqr", "mad", "zscore"])
    def test_window_fences_edge_sources(self, edge_tier, method):
        from tstoken.stats.dispersion import (iqr_labels, mad_labels,
                                              mad_scores, zscore)
        df, series = edge_tier
        fl = (getattr(detect, f"{method}_flags")(df).toPandas()
              .sort_values(["source", "bucket_ts"]))
        labels = {"iqr": iqr_labels, "mad": mad_labels,
                  "zscore": lambda x: np.abs(zscore(x)) > 2.0}[method]
        got = {s: g for s, g in fl.groupby("source")}
        assert set(got) == set(series)
        for s, vals in series.items():
            x = np.asarray(vals, dtype=np.float64)
            assert (got[s]["is_outlier"].to_numpy() == labels(x)).all(), s
        # zero spread (IQR = MAD = sd = 0) scores 0.0 on the centre; off
        # it, MAD scores 1e308 and IQR the raw distance to the fence
        for s in ("const", "single"):
            assert (got[s]["score"] == 0.0).all(), s
        spike, ordinary = (np.asarray(series[s], dtype=np.float64)
                           for s in ("spike", "ordinary"))
        want = {"iqr": {"spike": [0.0] * 7 + [45.0]},
                "mad": {"spike": [0.0] * 7 + [1e308],
                        "ordinary": mad_scores(ordinary)},
                "zscore": {"spike": np.abs(zscore(spike)),
                           "ordinary": np.abs(zscore(ordinary))}}[method]
        for s, w in want.items():
            np.testing.assert_allclose(got[s]["score"], w, err_msg=s)

    def test_stl_f1_vs_ground_truth(self, spark, gf):
        fl = detect.grouped_flags(gf, "1m", "stl").toPandas()
        gt = synth.ground_truth(spark, ROWS, n_sources=SOURCES).toPandas()
        gt["bucket_ts"] = pd.to_datetime(gt["bucket_ts"])
        fl["bucket_ts"] = pd.to_datetime(fl["bucket_ts"])
        truth = set(zip(gt["source"], gt["bucket_ts"]))
        flagged = set(zip(fl.loc[fl["is_outlier"], "source"],
                          fl.loc[fl["is_outlier"], "bucket_ts"]))
        # truth minutes that actually exist in the rolled data
        have = set(zip(fl["source"], fl["bucket_ts"]))
        truth &= have
        tp = len(truth & flagged)
        prec = tp / max(len(flagged), 1)
        rec = tp / max(len(truth), 1)
        f1 = 2 * prec * rec / max(prec + rec, 1e-9)
        # |z|>2 flags ~2-3% of ANY Gaussian series (reference semantics,
        # catch.py:1156) so precision is bounded on short series; assert
        # the planted anomalies are mostly recovered and F1 is sane
        assert rec >= 0.6, (prec, rec, f1)
        assert f1 > 0.25, (prec, rec, f1)


class TestCompressSpark:
    def test_roundtrip_through_spark(self, spark, t1m):
        from tstoken import compress
        blocks = compress.compress_tier(t1m)
        dec = compress.decompress_blocks(blocks).toPandas() \
            .sort_values(["source", "bucket_ts"]).reset_index(drop=True)
        ref = t1m.selectExpr("source", "bucket_ts",
                             "cast(sum_n_tok as double) as value") \
            .toPandas().sort_values(["source", "bucket_ts"]) \
            .reset_index(drop=True)
        assert len(dec) == len(ref)
        assert (dec["value"].to_numpy() == ref["value"].to_numpy()).all()
        assert (pd.to_datetime(dec["bucket_ts"]).to_numpy()
                == pd.to_datetime(ref["bucket_ts"]).to_numpy()).all()

    def test_compression_ratio(self, t1m):
        from tstoken import compress
        blocks = compress.compress_tier(t1m).toPandas()
        raw_bytes = 16 * blocks["n_points"].sum()
        enc_bytes = (blocks["ts_block"].map(len).sum()
                     + blocks["val_block"].map(len).sum())
        assert enc_bytes < raw_bytes * 0.7

    def test_foreign_codec_tag_refused(self, spark, t1m):
        # wire format v2 ("gorilla+dod2", 64-bit first delta): a block
        # tagged with another codec must refuse, not silently
        # mis-decode (the 64-bit read would eat old 32-bit fields)
        import pyspark.sql.utils as U

        import pytest

        from tstoken import compress
        stale = compress.compress_tier(t1m) \
            .withColumn("codec", F.lit("gorilla+dod"))
        with pytest.raises((U.PythonException, Exception),
                           match="gorilla"):
            compress.decompress_blocks(stale).count()

    @staticmethod
    def _encode_timestamps_v1(ts):
        # genuine round-2 "gorilla+dod" writer (32-bit first delta,
        # flag-less '1111'+32b escape) so the migration tests decode
        # real v1 bytes, not relabeled v2 ones
        import numpy as np
        from tstoken.compress import _BitWriter
        ts = np.asarray(ts, dtype=np.int64)
        w = _BitWriter()
        n = ts.shape[0]
        w.write(n, 32)
        if n == 0:
            return w.getvalue()
        w.write(int(ts[0]) & ((1 << 64) - 1), 64)
        if n == 1:
            return w.getvalue()
        w.write(int(ts[1] - ts[0]) & ((1 << 32) - 1), 32)
        for d in np.diff(np.diff(ts)):
            d = int(d)
            if d == 0:
                w.write(0, 1)
            elif -63 <= d <= 64:
                w.write(0b10, 2)
                w.write(d + 63, 7)
            elif -255 <= d <= 256:
                w.write(0b110, 3)
                w.write(d + 255, 9)
            elif -2047 <= d <= 2048:
                w.write(0b1110, 4)
                w.write(d + 2047, 12)
            else:
                w.write(0b1111, 4)
                w.write(d & ((1 << 32) - 1), 32)
        return w.getvalue()

    def _v1_blocks(self, spark):
        import numpy as np
        from tstoken import compress
        ts = np.array([1_700_000_000 + 60 * i for i in range(500)]
                      + [1_700_100_000 + 3600 * i for i in range(100)],
                      dtype=np.int64)
        vals = np.sin(np.arange(ts.size) * 0.37) * 100 + 7.0
        row = {
            "source": "legacy", "chunk": 0,
            "ts_block": self._encode_timestamps_v1(ts),
            "val_block": compress.encode_values(vals),
            "n_points": int(ts.size), "codec": compress.CODEC_V1,
        }
        return (spark.createDataFrame([row], schema=compress.BLOCK_SCHEMA),
                ts, vals)

    def test_v1_blocks_decode_after_recompress(self, spark):
        import pytest
        from tstoken import compress
        v1, ts, vals = self._v1_blocks(spark)
        # v1 blocks are refused until recompress_v1_blocks upgrades them
        with pytest.raises(Exception, match="recompress_v1_blocks"):
            compress.decompress_blocks(v1).count()
        dec = compress.decompress_blocks(compress.recompress_v1_blocks(v1)) \
            .toPandas().sort_values("bucket_ts").reset_index(drop=True)
        got_ts = (pd.to_datetime(dec["bucket_ts"]).astype("int64")
                  // 10 ** 9).to_numpy()
        assert (got_ts == ts).all()
        assert (dec["value"].to_numpy() == vals).all()

    def test_recompress_v1_blocks_upgrades_in_place(self, spark, t1m):
        import pytest
        from tstoken import compress
        v1, ts, vals = self._v1_blocks(spark)
        v2 = compress.compress_tier(t1m)
        mixed = v2.unionByName(v1)
        migrated = compress.recompress_v1_blocks(mixed)
        tags = [r.codec for r in migrated.select("codec").distinct().collect()]
        assert tags == [compress.CODEC]
        # already-v2 rows pass through byte-identical
        orig = {(r.source, r.chunk): (bytes(r.ts_block), bytes(r.val_block))
                for r in v2.collect()}
        for r in migrated.collect():
            if r.source != "legacy":
                assert (bytes(r.ts_block), bytes(r.val_block)) \
                    == orig[(r.source, r.chunk)]
        # and the migrated legacy block decodes under the DEFAULT path
        dec = compress.decompress_blocks(
            migrated.filter("source = 'legacy'")).toPandas() \
            .sort_values("bucket_ts").reset_index(drop=True)
        got_ts = (pd.to_datetime(dec["bucket_ts"]).astype("int64")
                  // 10 ** 9).to_numpy()
        assert (got_ts == ts).all()
        assert (dec["value"].to_numpy() == vals).all()
        # unknown tags still refuse even through the migration job
        bad = v1.withColumn("codec", F.lit("zstd"))
        with pytest.raises(Exception, match="unknown"):
            compress.recompress_v1_blocks(bad).count()


class TestRetention:
    def test_read_side_filter(self, spark, t1m):
        from datetime import datetime, timedelta
        from tstoken.retention import filter_retained
        hi = t1m.agg(F.max("bucket_ts")).collect()[0][0]
        now = hi + timedelta(days=1)
        kept = filter_retained(t1m, "1m", now,
                               horizons={"1m": timedelta(hours=6)})
        lo_allowed = now - timedelta(hours=6)
        assert kept.filter(F.col("bucket_ts") < F.lit(lo_allowed)).count() == 0
        assert kept.count() < t1m.count()


class TestEngineDetectorVariants:
    @pytest.fixture(scope="class")
    def gf(self, spark, t1m):
        df = gapfill.gap_fill(t1m, "1m").cache()
        df.count()
        yield df
        df.unpersist()

    def test_stl_z_flags_planted_anomalies(self, spark, gf):
        fl = detect.grouped_flags(gf, "1m", "stl_z").toPandas()
        assert set(fl["method"]) == {"stl_z"}
        gt = synth.ground_truth(spark, ROWS, n_sources=SOURCES).toPandas()
        have = set(zip(fl["source"], pd.to_datetime(fl["bucket_ts"])))
        truth = set(zip(gt["source"], pd.to_datetime(gt["bucket_ts"]))) & have
        flagged = set(zip(fl.loc[fl.is_outlier, "source"],
                          pd.to_datetime(fl.loc[fl.is_outlier, "bucket_ts"])))
        rec = len(truth & flagged) / max(len(truth), 1)
        assert rec >= 0.6, rec

    def test_stationarity_check_runs_per_source(self, spark, t1m):
        st = detect.stationarity_check(t1m).toPandas()
        assert len(st) == SOURCES
        assert set(st.columns) >= {"source", "adf_stat", "adf_stationary",
                                   "kpss_stat", "kpss_stationary"}


class TestRound2Fixes:
    """Round-2 verdict/advice fixes: empty-token docs in rollup_1m,
    visible detector fallback, unknown-method validation."""

    def test_rollup_counts_empty_and_null_token_docs(self, spark):
        # rollup_1m is the public ingest for arbitrary tokens_raw
        # tables: docs with [] or NULL tokens must still count toward
        # n_docs (pre-fix they silently vanished from the posexplode);
        # a NULL token inside an array is skipped, not the whole doc
        rows = [("d-0", [3, 4], 2, "src-000"),
                ("d-1", [], 0, "src-000"),
                ("d-2", None, 0, "src-000"),
                ("d-3", [3, None, 4], 3, "src-001")]
        raw = spark.createDataFrame(
            rows, "doc_id string, tokens array<int>, n_tok int, source string")
        out = rollup.rollup_1m(raw).toPandas().set_index("source")
        assert len(out) == 2
        r = out.loc["src-000"]
        assert r["n_docs"] == 3
        assert r["sum_n_tok"] == 2
        assert r["min_n_tok"] == 0 and r["max_n_tok"] == 2
        assert r["sum_tok_sq"] == 9 + 16
        r = out.loc["src-001"]
        assert r["n_docs"] == 1
        assert r["sum_tok_sq"] == 9 + 16

    @pytest.fixture(scope="class")
    def const_series(self, spark):
        from datetime import datetime, timedelta
        rows = [("src-000", datetime(2024, 1, 1) + timedelta(minutes=i),
                 7) for i in range(200)]
        return spark.createDataFrame(
            rows, "source string, bucket_ts timestamp, sum_n_tok long")

    @pytest.mark.parametrize("method", detect.GROUPED_METHODS)
    def test_degenerate_kernel_fallback_is_labeled(self, const_series,
                                                   method):
        # constant series -> degenerate decomposition -> IQR fallback,
        # which must SAY SO in the method column instead of shipping
        # flags labeled with the requested method (round-1 verdict #3)
        fl = detect.grouped_flags(const_series, "1m", method).toPandas()
        assert not fl["is_outlier"].any()
        assert set(fl["method"]) == {"iqr_fallback"}
        assert (fl["score"] == 0.0).all()

    def test_short_series_fallback_is_labeled(self, spark):
        from datetime import datetime, timedelta
        rows = [("src-000", datetime(2024, 1, 1) + timedelta(minutes=i),
                 float(i % 5)) for i in range(10)]
        df = spark.createDataFrame(
            rows, "source string, bucket_ts timestamp, sum_n_tok double")
        fl = detect.grouped_flags(df, "1m", "mstl").toPandas()
        assert set(fl["method"]) == {"iqr_fallback"}

    @pytest.mark.parametrize("method", detect.GROUPED_METHODS)
    def test_short_series_fallback_scores_like_iqr_flags(self, spark,
                                                         method):
        # fewer than 2 * 60 + 1 points: every grouped method falls back
        # to IQR fences, and scores a point as iqr_flags does
        rows = [("src-000", datetime(2024, 1, 1) + timedelta(minutes=i),
                 float(i % 7 + (40 if i in (5, 30) else 0)))
                for i in range(50)]
        df = spark.createDataFrame(
            rows, "source string, bucket_ts timestamp, sum_n_tok double")
        key = ["source", "bucket_ts"]
        fb = detect.grouped_flags(df, "1m", method).toPandas()
        want = detect.iqr_flags(df).toPandas()
        m = fb.merge(want, on=key, suffixes=("", "_iqr"))
        assert len(m) == 50 and set(m["method"]) == {"iqr_fallback"}
        assert (m["is_outlier"] == m["is_outlier_iqr"]).all()
        assert m["is_outlier"].sum() == 2
        assert np.allclose(m["score"], m["score_iqr"], rtol=1e-12, atol=0)

    def test_unknown_method_raises_at_build_time(self, const_series):
        # "iqr" included: IQR is the native iqr_flags only
        for method in ("nope", "iqr"):
            with pytest.raises(ValueError, match="unknown method"):
                detect.grouped_flags(const_series, "1m", method)

    def test_extrema_ensemble_catches_sparse_dip_and_spike(self, spark):
        # one source, stable per-doc token level ~1000, one spiked
        # bucket (all docs x8) and one dipped bucket (x1/8); both have
        # few docs, where the mean-ratio MAD alone misses dips
        from datetime import datetime, timedelta

        import numpy as np
        rng = np.random.default_rng(9)
        rows = []
        base = datetime(2024, 1, 1)
        for i in range(300):
            n_docs = int(rng.integers(1, 4))
            per_doc = rng.integers(900, 1100, n_docs)
            if i == 100:
                per_doc = per_doc * 8        # spike
            elif i == 200:
                per_doc = per_doc // 8       # dip
            rows.append(("src-000", base + timedelta(minutes=i),
                         int(n_docs), int(per_doc.sum()),
                         int(per_doc.min()), int(per_doc.max()),
                         0, False))
        t1m = spark.createDataFrame(
            rows, "source string, bucket_ts timestamp, n_docs long, "
                  "sum_n_tok long, min_n_tok int, max_n_tok int, "
                  "sum_tok_sq long, gap_filled boolean")
        fl = detect.extrema_ensemble_flags(t1m).toPandas() \
            .sort_values("bucket_ts").reset_index(drop=True)
        assert len(fl) == 300
        assert set(fl["method"]) == {"extrema_ensemble"}
        assert bool(fl.iloc[100]["is_outlier"])   # spike caught
        assert bool(fl.iloc[200]["is_outlier"])   # dip caught
        assert int(fl["is_outlier"].sum()) <= 6   # few false alarms
