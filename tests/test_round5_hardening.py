"""Round-5 hardening: late/out-of-order streaming drill, decoder
allocation bounds, v1 whole-block-consumption guard, golden NaN/null
distinction, adaptive dip-threshold contract."""

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from tstoken import synth
from tstoken.compress import (decode_timestamps, decode_timestamps_v1,
                              encode_timestamps)


class TestLateDataStreaming:
    def test_late_rows_dropped_and_on_time_parity(self, spark, tmp_path):
        """Feed the streaming rollup shuffled micro-batches: batch 2
        carries out-of-order rows that are late but INSIDE the
        watermark (must aggregate), batch 3 replays rows from the
        first five minutes long after the watermark passed (must be
        dropped AND accounted in numRowsDroppedByWatermark). Final
        tier must equal the batch rollup over exactly the kept rows.
        """
        from tstoken.rollup import rollup_1m, with_event_time
        from tstoken.streaming import streaming_rollup_1m

        raw = synth.generate_tokens_raw(spark, 6000, n_sources=2)
        ts = with_event_time(raw)
        t0 = ts.agg(F.min("event_ts")).collect()[0][0]
        minute = (F.col("event_ts").cast("long")
                  - F.lit(int(t0.timestamp()))) / 60.0

        cols = raw.columns
        early = ts.filter(minute < 5)
        # deterministic half-split of the early rows: A1 arrives on
        # time, A2 is replayed in batch 3 — beyond the watermark
        a1 = early.filter(F.pmod(F.xxhash64("doc_id"), F.lit(2)) == 0) \
                  .select(cols)
        a2 = early.filter(F.pmod(F.xxhash64("doc_id"), F.lit(2)) == 1) \
                  .select(cols)
        b = ts.filter((minute >= 5) & (minute < 35)).select(cols)
        # C is out-of-order (older than batch 2's newest data) but
        # above batch 1's watermark (35 - 10 = 25 min) — kept
        c = ts.filter((minute >= 35) & (minute < 40)).select(cols)
        d = ts.filter((minute >= 40) & (minute < 60)).select(cols)
        n_late = a2.count()
        assert n_late > 0, "drill needs withheld late rows"
        # the watermark drop counter records PARTIAL-AGGREGATE rows
        # discarded at the state store (the map-side combine runs
        # before the late filter), so with a single input partition
        # (coalesce(1)) it equals the distinct (source, minute) key
        # count of the late rows, not their raw row count
        from tstoken.rollup import bucket_col
        n_late_keys = (with_event_time(a2)
                       .select("source",
                               bucket_col(F.col("event_ts"), "1m")
                               .alias("b")).distinct().count())

        src_dir = str(tmp_path / "late_stream_src")
        a1.unionByName(b).coalesce(1).write.mode("append").parquet(src_dir)

        stream = spark.readStream.schema(raw.schema).parquet(src_dir)
        agg = streaming_rollup_1m(stream, watermark="10 minutes")
        q = (agg.writeStream.format("memory").queryName("t1m_late_drill")
             .outputMode("update").start())
        try:
            q.processAllAvailable()  # batch 1: A1 + B -> wm = 25 min
            c.unionByName(d).coalesce(1).write.mode("append") \
                .parquet(src_dir)
            q.processAllAvailable()  # batch 2: C + D -> wm = 50 min
            a2.coalesce(1).write.mode("append").parquet(src_dir)
            q.processAllAvailable()  # batch 3: A2 — beyond watermark

            dropped = sum(
                op.get("numRowsDroppedByWatermark", 0)
                for p in q.recentProgress
                for op in (p.get("stateOperators") or []))
            got = spark.sql("select * from t1m_late_drill").toPandas()
        finally:
            q.stop()

        assert dropped == n_late_keys, (
            f"watermark accounting: expected {n_late_keys} dropped "
            f"late partial-agg rows ({n_late} raw rows), "
            f"stateOperators recorded {dropped}")

        # update mode re-emits a key on every fold-in; n_docs grows
        # strictly with each update, so the final state per key is its
        # max-n_docs row
        got = (got.sort_values("n_docs")
               .groupby(["source", "bucket_ts"], as_index=False).last()
               .sort_values(["source", "bucket_ts"])
               .reset_index(drop=True))
        kept = a1.unionByName(b).unionByName(c).unionByName(d)
        want = (rollup_1m(kept).toPandas()
                .sort_values(["source", "bucket_ts"])
                .reset_index(drop=True))
        assert len(got) == len(want)
        for col in ["n_docs", "sum_n_tok", "min_n_tok", "max_n_tok",
                    "sum_tok_sq"]:
            assert (got[col].to_numpy() == want[col].to_numpy()).all(), col


class TestDecoderBounds:
    def _huge_count_block(self) -> bytes:
        # count field claims 2^31 points in a 6-byte block
        return (0x7FFFFFFF).to_bytes(4, "big") + b"\x00\x00"

    def test_v2_huge_count_raises_valueerror(self):
        with pytest.raises(ValueError, match="capacity"):
            decode_timestamps(self._huge_count_block())

    def test_v1_huge_count_raises_valueerror(self):
        with pytest.raises(ValueError, match="not v1-framed"):
            decode_timestamps_v1(self._huge_count_block())

    def test_v1_underconsumption_guard(self):
        # a genuine v1 block with trailing garbage decodes monotonic
        # but leaves >7 unread bits -> the consumed-whole-block guard
        # must refuse instead of returning a plausible prefix
        ts = np.arange(1_700_000_000, 1_700_000_000 + 600, 60,
                       dtype=np.int64)
        from tstoken.compress import _BitWriter

        w = _BitWriter()
        w.write(len(ts), 32)
        w.write(int(ts[0]), 64)
        w.write(int(ts[1] - ts[0]) & 0xFFFFFFFF, 32)
        for d in np.diff(np.diff(ts)):
            w.write(0, 1)  # constant step -> dod 0
        good = w.getvalue()
        assert (decode_timestamps_v1(good) == ts).all()
        with pytest.raises(ValueError, match="consumed only"):
            decode_timestamps_v1(good + b"\x00\x00\x00\x00")

    def test_v2_roundtrip_still_exact(self):
        ts = np.array([0, 60, 120, 121, 121, 10_000], dtype=np.int64)
        assert (decode_timestamps(encode_timestamps(ts)) == ts).all()


class TestGoldenFmt:
    def test_nan_and_null_serialize_distinctly(self):
        import sys

        sys.path.insert(0, "/root/repo/tools")
        from goldens import _fmt

        assert _fmt(None) == "null"
        assert _fmt(float("nan")) == "nan"
        assert _fmt(np.float64("nan")) == "nan"
        assert _fmt(1.25) != _fmt(None)
        assert not math.isnan(float(_fmt(1.25)))


class TestSkewStress:
    def test_rollup_exact_on_hot_minute_keys(self, spark):
        """The pathological shape BENCH/skew_stress.py measures at
        scale, checked for exactness here: wrapped sequence numbers
        concentrate 90% of docs onto ~3 minute buckets of one source.
        Every tier row equals the pandas oracle's, on all five
        aggregates, though the hot source's rows meet in one task."""
        import pandas as pd
        from test_engine_spark import oracle_rollup_1m
        from tstoken.rollup import rollup_1m

        hot = (spark.range(0, 4500)
               .withColumn("seq", F.pmod(F.col("id"), F.lit(60)))
               .withColumn("n_tok", (F.lit(4) + F.pmod(
                   F.col("id") * F.lit(2654435761) + F.lit(17),
                   F.lit(60))).cast("int"))
               .withColumn("source", F.lit("src-000"))
               .withColumn("doc_id", F.format_string(
                   "src-000-u%09d-%012d", F.col("id"), F.col("seq")))
               .withColumn("tokens", F.transform(
                   F.sequence(F.lit(0), F.col("n_tok") - 1),
                   lambda i: F.pmod(F.col("id") * F.lit(131) + i
                                    + F.lit(7), F.lit(50257))
                   .cast("int")))
               .select("doc_id", "tokens", "n_tok", "source"))
        cold = synth.generate_tokens_raw(spark, 500, n_sources=2) \
            .withColumn("source",
                        F.regexp_replace("source", "^src-000$",
                                         "src-002"))
        raw = hot.unionByName(cold).localCheckpoint()

        ids = np.arange(4500, dtype=np.int64)
        n_tok = 4 + (ids * 2654435761 + 17) % 60
        hot_pdf = pd.DataFrame({
            "source": "src-000", "seq": ids % 60, "n_tok": n_tok,
            "tokens": [(i * 131 + np.arange(n) + 7) % 50257
                       for i, n in zip(ids, n_tok)]})
        cold_pdf = synth.generate_tokens_raw_pandas(500, n_sources=2)
        cold_pdf["source"] = cold_pdf["source"].replace("src-000", "src-002")
        want = oracle_rollup_1m(pd.concat([hot_pdf, cold_pdf]))

        got = (rollup_1m(raw).toPandas()
               .sort_values(["source", "bucket_ts"])
               .reset_index(drop=True))
        assert len(got) == len(want)
        assert (got["source"] == want["source"]).all()
        assert (pd.to_datetime(got["bucket_ts"]).to_numpy()
                == want["bucket_ts"].to_numpy()).all()
        for c in ["n_docs", "sum_n_tok", "min_n_tok", "max_n_tok",
                  "sum_tok_sq"]:
            assert (got[c].to_numpy() == want[c].to_numpy()).all(), c
        # the hot source really is hot: >=60 docs in its busiest minute
        hotmax = got[got["source"] == "src-000"]["n_docs"].max()
        assert hotmax >= 60


class TestAdaptiveDip:
    def test_default_path_bit_identical(self, spark):
        """adaptive_dip=False (the default) must produce exactly the
        frozen-default flags — the opt-in can never move them."""
        from tstoken.detect import extrema_ensemble_flags
        from tstoken.rollup import rollup_1m

        t1m = rollup_1m(
            synth.generate_tokens_raw(spark, 20_000, n_sources=3))
        t1m = t1m.localCheckpoint()
        base = extrema_ensemble_flags(t1m).toPandas() \
            .sort_values(["source", "bucket_ts"]).reset_index(drop=True)
        again = extrema_ensemble_flags(t1m, adaptive_dip=False) \
            .toPandas().sort_values(["source", "bucket_ts"]) \
            .reset_index(drop=True)
        assert (base["is_outlier"].to_numpy()
                == again["is_outlier"].to_numpy()).all()
        assert np.allclose(base["score"].to_numpy(),
                           again["score"].to_numpy(), equal_nan=True)

    def test_adaptive_only_loosens_sparse_sources(self, spark):
        """The adaptive fence can only ADD dip flags (threshold only
        ever drops), and only on sources whose median docs/bucket is
        at most the density cutoff."""
        from tstoken.detect import extrema_ensemble_flags
        from tstoken.rollup import rollup_1m

        # zipf 1.6 makes the tail sources sparse (few docs per minute)
        t1m = rollup_1m(synth.generate_tokens_raw(
            spark, 20_000, n_sources=6, zipf_exp=1.6)).localCheckpoint()
        base = extrema_ensemble_flags(t1m).toPandas()
        adap = extrema_ensemble_flags(t1m, adaptive_dip=True).toPandas()
        key = ["source", "bucket_ts"]
        m = base.merge(adap, on=key, suffixes=("_b", "_a"))
        assert len(m) == len(base) == len(adap)
        # never un-flags
        assert not (m["is_outlier_b"] & ~m["is_outlier_a"]).any()
        new = m[~m["is_outlier_b"] & m["is_outlier_a"]]
        if len(new):
            dens = (t1m.groupBy("source")
                    .agg(F.percentile(F.col("n_docs").cast("double"),
                                      F.lit(0.5)).alias("med_docs"))
                    .toPandas().set_index("source")["med_docs"])
            assert (dens.loc[new["source"]].to_numpy() <= 3.0).all()
