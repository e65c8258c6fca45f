"""Checkpoint/resume idempotency, streaming-vs-batch rollup agreement,
multimodal plumbing, text/similarity operators."""

import os
import time

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from tstoken import synth
from tstoken.checkpoint import read_ledger, run_incremental_rollup
from tstoken.tableio import TableIO

ROWS = 8_000
SOURCES = 3
MEASURE_NAMES = ["n_docs", "sum_n_tok", "min_n_tok", "max_n_tok",
                 "sum_tok_sq"]


def _erase_1m_ledger(spark, io, source):
    """Simulate a crash: drop `source`'s 1m ledger rows."""
    ledger = read_ledger(io).toPandas()
    keep = ledger[~((ledger["tier"] == "1m") & (ledger["source"] == source))]
    assert len(keep) < len(ledger)
    io.overwrite("ledger", spark.createDataFrame(
        keep, schema=read_ledger(io).schema), partition_by=("tier",))


def _tier(io, tier):
    return io.read(f"rollup_{tier}").toPandas() \
        .sort_values(["source", "bucket_ts"]).reset_index(drop=True)


class TestCheckpointResume:
    def test_resume_is_idempotent(self, spark, tmp_path):
        io = TableIO(spark, str(tmp_path / "tiers"))
        raw = synth.generate_tokens_raw(spark, ROWS, n_sources=SOURCES)

        p1 = run_incremental_rollup(spark, io, raw)
        assert p1["1m"] > 0 and p1["1h"] > 0 and p1["1d"] > 0
        snap1 = {t: io.read(f"rollup_{t}").toPandas()
                 .sort_values(["source", "bucket_ts"]).reset_index(drop=True)
                 for t in ("1m", "1h", "1d")}

        # second run: ledger says everything is done → zero units
        p2 = run_incremental_rollup(spark, io, raw)
        assert p2 == {"1m": 0, "1h": 0, "1d": 0}
        for t in ("1m", "1h", "1d"):
            snap2 = io.read(f"rollup_{t}").toPandas() \
                .sort_values(["source", "bucket_ts"]).reset_index(drop=True)
            pd.testing.assert_frame_equal(
                snap1[t].drop(columns=["chunk"], errors="ignore"),
                snap2.drop(columns=["chunk"], errors="ignore"),
                check_like=True)

    def test_partial_ledger_resume(self, spark, tmp_path):
        """Simulate a crash: erase half the 1m ledger entries, re-run,
        and require byte-identical tiers (idempotent replay)."""
        io = TableIO(spark, str(tmp_path / "tiers"))
        raw = synth.generate_tokens_raw(spark, ROWS, n_sources=SOURCES)
        run_incremental_rollup(spark, io, raw)
        before = _tier(io, "1m")

        _erase_1m_ledger(spark, io, "src-000")

        p = run_incremental_rollup(spark, io, raw)
        assert p["1m"] > 0  # replayed the erased units
        after = _tier(io, "1m")
        pd.testing.assert_frame_equal(before, after, check_like=True)

    def test_ledger_carries_metrics(self, spark, tmp_path):
        io = TableIO(spark, str(tmp_path / "tiers"))
        raw = synth.generate_tokens_raw(spark, ROWS, n_sources=SOURCES)
        run_incremental_rollup(spark, io, raw)
        led = read_ledger(io).toPandas()
        assert {"tier", "source", "chunk", "input_snapshot", "rows_in",
                "rows_out", "wall_ms", "points_per_sec",
                "finished_at"} <= set(led.columns)
        assert (led["points_per_sec"] > 0).all()
        assert (led["rows_out"] > 0).all()

    def test_noop_resume_runs_no_rollup(self, spark, tmp_path, monkeypatch):
        """With every unit in the ledger, resume rolls nothing up: the
        pending sets come from the ledger, not from a re-rollup."""
        from tstoken import rollup
        io = TableIO(spark, str(tmp_path / "tiers"))
        raw = synth.generate_tokens_raw(spark, ROWS, n_sources=SOURCES)
        run_incremental_rollup(spark, io, raw)

        def boom(*a, **k):
            raise AssertionError("no-op resume must not roll up")
        monkeypatch.setattr(rollup, "rollup_1m", boom)
        monkeypatch.setattr(rollup, "rollup_cascade", boom)
        assert run_incremental_rollup(spark, io, raw) == \
            {"1m": 0, "1h": 0, "1d": 0}

    def test_crash_resume_rolls_up_only_erased_units(self, spark, tmp_path,
                                                     monkeypatch):
        """After the crash drill, rollup_1m sees only the erased source's
        raw rows and no cascade runs (its 1h/1d units are in the ledger)."""
        from tstoken import rollup
        io = TableIO(spark, str(tmp_path / "tiers"))
        raw = synth.generate_tokens_raw(spark, ROWS, n_sources=SOURCES)
        run_incremental_rollup(spark, io, raw)
        _erase_1m_ledger(spark, io, "src-000")

        seen, cascades = [], []
        real_1m, real_cascade = rollup.rollup_1m, rollup.rollup_cascade

        def spy_1m(df, *a, **k):
            seen.append((df.count(), df.filter(
                F.col("source") != "src-000").count()))
            return real_1m(df, *a, **k)

        def spy_cascade(df, tier):
            cascades.append(tier)
            return real_cascade(df, tier)
        monkeypatch.setattr(rollup, "rollup_1m", spy_1m)
        monkeypatch.setattr(rollup, "rollup_cascade", spy_cascade)
        p = run_incremental_rollup(spark, io, raw)
        n_src0 = raw.filter(F.col("source") == "src-000").count()
        assert seen == [(n_src0, 0)]
        assert cascades == []
        assert p["1h"] == 0 and p["1d"] == 0

    def test_resumed_ledger_equals_pre_crash(self, spark, tmp_path):
        """Crash + resume rebuilds the ledger the crash erased: same
        (tier, source, chunk, input_snapshot, rows_in, rows_out) rows,
        each unit recorded exactly once."""
        io = TableIO(spark, str(tmp_path / "tiers"))
        raw = synth.generate_tokens_raw(spark, ROWS, n_sources=SOURCES)
        run_incremental_rollup(spark, io, raw)
        cols = ["tier", "source", "chunk", "input_snapshot", "rows_in",
                "rows_out"]

        def ledger():
            return read_ledger(io).toPandas()[cols] \
                .sort_values(cols[:3]).reset_index(drop=True)
        before = ledger()
        _erase_1m_ledger(spark, io, "src-000")
        run_incremental_rollup(spark, io, raw)
        after = ledger()
        pd.testing.assert_frame_equal(before, after)
        assert not after.duplicated(cols[:3]).any()

    def test_resume_with_empty_and_null_token_docs(self, spark, tmp_path):
        """Zero-token docs in the erased source (one NULL `tokens`, one
        empty array) resume to the byte-identical 1m tier and still count
        in n_docs (round-1 ADVICE contract)."""
        from tstoken.rollup import rollup_1m
        io = TableIO(spark, str(tmp_path / "tiers"))
        base = synth.generate_tokens_raw(spark, ROWS, n_sources=SOURCES)
        null_doc, empty_doc = [r.doc_id for r in base.filter(
            F.col("source") == "src-000").orderBy("doc_id").limit(2).collect()]
        raw = base.withColumn(
            "tokens",
            F.when(F.col("doc_id") == null_doc, F.lit(None))
            .when(F.col("doc_id") == empty_doc, F.array().cast("array<int>"))
            .otherwise(F.col("tokens")))
        run_incremental_rollup(spark, io, raw)
        before = _tier(io, "1m")
        _erase_1m_ledger(spark, io, "src-000")
        assert run_incremental_rollup(spark, io, raw)["1m"] > 0
        after = _tier(io, "1m")
        pd.testing.assert_frame_equal(before, after, check_like=True)
        one_shot = rollup_1m(raw).toPandas() \
            .sort_values(["source", "bucket_ts"]).reset_index(drop=True)
        pd.testing.assert_frame_equal(
            after.drop(columns=["chunk"])[one_shot.columns], one_shot)
        src0 = after["source"] == "src-000"
        assert after.loc[src0, "n_docs"].sum() == \
            base.filter(F.col("source") == "src-000").count()


class TestRetentionDelete:
    def test_apply_retention_deletes_old(self, spark, tmp_path):
        from datetime import timedelta
        from tstoken.retention import apply_retention
        io = TableIO(spark, str(tmp_path / "tiers"))
        raw = synth.generate_tokens_raw(spark, ROWS, n_sources=SOURCES)
        run_incremental_rollup(spark, io, raw)
        n_before = io.read("rollup_1m").count()
        hi = io.read("rollup_1m").agg(F.max("bucket_ts")).collect()[0][0]
        apply_retention(io, "1m", now=hi,
                        horizons={"1m": timedelta(hours=1)})
        kept = io.read("rollup_1m")
        assert kept.count() < n_before
        lo = kept.agg(F.min("bucket_ts")).collect()[0][0]
        assert (hi - lo).total_seconds() <= 3600


class TestTableIORead:
    def test_read_runs_no_schema_inference_job(self, spark, tmp_path):
        """A table's manifest carries its read schema, so `read` launches
        no Spark job; the schema is the one parquet inference yields."""
        from tstoken.detect import iqr_flags
        from tstoken.gapfill import gap_fill
        io = TableIO(spark, str(tmp_path / "tiers"))
        raw = synth.generate_tokens_raw(spark, ROWS, n_sources=SOURCES)
        run_incremental_rollup(spark, io, raw)
        flags = iqr_flags(gap_fill(io.read("rollup_1m").drop("chunk"), "1m"))
        io.overwrite("flags_1m", flags, partition_by=("method",))
        sc = spark.sparkContext
        for table in ("rollup_1m", "ledger", "flags_1m"):
            group = f"read-{table}-{time.time_ns()}"
            sc.setJobGroup(group, group)
            try:
                df = io.read(table)
                jobs = sc.statusTracker().getJobIdsForGroup(group)
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)
            assert list(jobs) == [], table
            assert df.schema == spark.read.parquet(
                str(tmp_path / "tiers" / table)).schema, table


class TestTableIOWrites:
    def test_overwrite_is_static_and_leaves_session_conf(self, spark,
                                                          tmp_path):
        key = "spark.sql.sources.partitionOverwriteMode"
        io = TableIO(spark, str(tmp_path))
        schema = "source string, v long"
        io.overwrite("t", spark.createDataFrame([("a", 1), ("b", 2)], schema))
        old = spark.conf.get(key)
        spark.conf.set(key, "dynamic")
        try:
            io.overwrite("t", spark.createDataFrame([("a", 3)], schema))
            assert spark.conf.get(key) == "dynamic"
        finally:
            spark.conf.set(key, old)
        # fully replaced: a dynamic overwrite would have kept source=b
        assert [tuple(r) for r in io.read("t").collect()] == [(3, "a")]

    def test_delete_where_keeps_partition_layout(self, spark, tmp_path):
        io = TableIO(spark, str(tmp_path))
        rows = [("src-000", "iqr", 1), ("src-000", "mad", 2),
                ("src-001", "iqr", 3)]
        io.overwrite("flags", spark.createDataFrame(
            rows, "source string, method string, v long"),
            partition_by=("method",))
        io.delete_where("flags", "v = 3")
        assert sorted(e for e in os.listdir(tmp_path / "flags")
                      if "=" in e) == ["method=iqr", "method=mad"]
        got = io.read("flags").select("source", "method", "v").collect()
        assert sorted(tuple(r) for r in got) == rows[:2]


class TestStreaming:
    def test_stream_matches_batch(self, spark, tmp_path):
        from tstoken.rollup import rollup_1m
        from tstoken.streaming import streaming_rollup_1m

        raw = synth.generate_tokens_raw(spark, 4000, n_sources=2)
        path = str(tmp_path / "stream_src")
        raw.write.mode("overwrite").parquet(path)

        stream = spark.readStream.schema(raw.schema).parquet(path)
        agg = streaming_rollup_1m(stream)
        q = (agg.writeStream.format("memory").queryName("t1m_stream")
             .outputMode("complete").start())
        q.processAllAvailable()
        got = spark.sql("select * from t1m_stream").toPandas() \
            .sort_values(["source", "bucket_ts"]).reset_index(drop=True)
        q.stop()

        want = rollup_1m(raw).toPandas() \
            .sort_values(["source", "bucket_ts"]).reset_index(drop=True)
        assert len(got) == len(want)
        for c in MEASURE_NAMES:
            assert (got[c].to_numpy() == want[c].to_numpy()).all(), c

    def test_stream_counts_empty_and_null_token_docs(self, spark, tmp_path):
        # the batch contract of TestRound2Fixes, applied to streaming:
        # [] and NULL tokens docs count toward n_docs, and a minute with
        # only such docs has sum_tok_sq 0, not NULL (src-000 steps 3 s
        # per seq, so seq 0..2 is minute 0 and seq 20..21 minute 1)
        from tstoken.rollup import rollup_1m
        from tstoken.streaming import streaming_rollup_1m

        rows = [("d-0", [3, 4], 2, "src-000"),
                ("d-1", [], 0, "src-000"),
                ("d-2", None, 0, "src-000"),
                ("d-20", [], 0, "src-000"),
                ("d-21", None, 0, "src-000")]
        raw = spark.createDataFrame(
            rows, "doc_id string, tokens array<int>, n_tok int, source string")
        path = str(tmp_path / "empty_src")
        raw.write.parquet(path)
        stream = spark.readStream.schema(raw.schema).parquet(path)
        q = (streaming_rollup_1m(stream).writeStream.format("memory")
             .queryName("t1m_empty").outputMode("complete").start())
        try:
            q.processAllAvailable()
            got = spark.sql("select * from t1m_empty").toPandas() \
                .sort_values("bucket_ts").reset_index(drop=True)
        finally:
            q.stop()

        assert got["n_docs"].tolist() == [3, 2]
        assert got["sum_tok_sq"].tolist() == [9 + 16, 0]
        want = rollup_1m(raw).toPandas() \
            .sort_values("bucket_ts").reset_index(drop=True)
        assert len(got) == len(want)
        for c in MEASURE_NAMES:
            assert (got[c].to_numpy() == want[c].to_numpy()).all(), c

    def test_stream_schema_is_the_batch_tier_schema(self, spark, tmp_path):
        from tstoken.rollup import ROLLUP_COLUMNS, rollup_1m
        from tstoken.streaming import streaming_rollup_1m

        raw = synth.generate_tokens_raw(spark, 100, n_sources=1)
        path = str(tmp_path / "schema_src")
        raw.write.parquet(path)
        stream = spark.readStream.schema(raw.schema).parquet(path)
        got = streaming_rollup_1m(stream).schema
        assert got.fieldNames() == ROLLUP_COLUMNS
        assert [f.dataType for f in got] == \
            [f.dataType for f in rollup_1m(raw).schema]

    def test_late_data_dropped_and_accounted(self, spark, tmp_path):
        """Out-of-order / late-arrival drill (SURVEY §2.10 watermark
        semantics): feed the streaming rollup micro-batches whose event
        times move BACKWARDS across batches. Rows later than the
        watermark must (a) be dropped — finalized buckets keep their
        on-time values bit-for-bat — and (b) be explicitly accounted in
        `numRowsDroppedByWatermark`, never silently folded in.

        Batch protocol (watermark = 10 minutes, append mode — a window
        emits exactly once, when the watermark passes its end):
          b1: minutes 0..29, one doc per minute, shuffled row order
          b2: clock doc at minute 60   (watermark after: 29-10 = m19)
          b3: 3 LATE docs at minutes 5/6/7 with poison n_tok=1000 +
              clock at minute 120      (watermark after: 60-10 = m50;
              the late rows are ~45 min older — dropped; distinct
              minutes because numRowsDroppedByWatermark counts rows
              reaching the STATE operator, i.e. post-partial-agg)
          b4: clock at minute 240      (watermark at b4's trigger: 110
              — emits minute 60; the engine's trailing no-data batch
              then advances it to 230 and emits minute 120; only
              minute 240 stays unfinalized)
        """
        import json as _json
        import random

        from tstoken.rollup import rollup_1m
        from tstoken.streaming import streaming_rollup_1m
        from tstoken.synth import T0_EPOCH  # noqa: F401 (doc anchor)

        # src-000 ⇒ step=3s, so seq = 20*minute lands exactly on the
        # minute boundary (rollup.py with_event_time: T0 + seq*step)
        def doc(minute, n_tok, tag):
            return (f"doc-{tag}-{20 * minute}", [1, 2], int(n_tok),
                    "src-000")

        schema = ("doc_id string, tokens array<int>, n_tok int, "
                  "source string")
        b1 = [doc(m, m + 1, f"b1x{m}") for m in range(30)]
        random.Random(7).shuffle(b1)  # out-of-order WITHIN the batch
        batches = [
            b1,
            [doc(60, 7, "clock60")],
            [doc(5 + i, 1000, f"late{i}") for i in range(3)]
            + [doc(120, 9, "clock120")],
            [doc(240, 11, "clock240")],
        ]

        path = str(tmp_path / "late_src")
        spark.createDataFrame(batches[0], schema) \
            .write.mode("append").parquet(path)
        stream = spark.readStream.schema(
            spark.read.parquet(path).schema).parquet(path)
        q = (streaming_rollup_1m(stream, watermark="10 minutes")
             .writeStream.format("memory").queryName("late_drill")
             .outputMode("append").start())
        try:
            q.processAllAvailable()
            for b in batches[1:]:
                spark.createDataFrame(b, schema) \
                    .write.mode("append").parquet(path)
                q.processAllAvailable()
            dropped = sum(
                op.get("numRowsDroppedByWatermark", 0)
                for p in q.recentProgress
                for op in _json.loads(p.json)["stateOperators"])
        finally:
            q.stop()

        got = spark.sql("select * from late_drill").toPandas() \
            .sort_values("bucket_ts").reset_index(drop=True)

        # (b) explicit accounting: exactly the 3 planted late rows
        assert dropped == 3

        # (a) batch parity on the ON-TIME rows: the sink holds exactly
        # the finalized windows (minutes 0..29, 60, 120), valued as if
        # the late rows never arrived
        on_time = spark.createDataFrame(
            batches[0] + [doc(60, 7, "c"), doc(120, 9, "c2")], schema)
        want = rollup_1m(on_time).toPandas() \
            .sort_values("bucket_ts").reset_index(drop=True)
        assert len(got) == 32  # 0..29 + 60 + 120; 240 never finalized
        for c in MEASURE_NAMES:
            assert (got[c].to_numpy() == want[c].to_numpy()).all(), c
        # the poisoned minute-5 bucket kept its on-time value
        m5 = got[got["bucket_ts"].astype("int64") // 10**9
                 == 1704067200 + 300]
        assert m5["sum_n_tok"].item() == 6 and m5["n_docs"].item() == 1


class TestMultimodal:
    def test_feature_extraction_shapes(self, spark):
        from tstoken.multimodal import FEATURE_DIM, extract_features, synth_media
        media = synth_media(spark, 60)
        feats = extract_features(media).toPandas()
        assert len(feats) == 60
        assert feats["feature"].map(len).eq(FEATURE_DIM).all()
        sums = feats["feature"].map(lambda v: float(np.sum(v)))
        assert np.allclose(sums, 1.0, atol=1e-5)
        # every synth payload is a REAL decodable format now
        assert feats["decoded"].all()

    def test_image_feature_accepts_decoded_array(self):
        # review fix: the video path feeds decoded frames directly,
        # skipping the per-frame encode/decode round-trip — both entry
        # forms must produce the identical feature
        from tstoken.multimodal import (decode_image, encode_ppm,
                                        image_feature)
        img = (np.arange(8 * 12 * 3) % 251).astype(np.uint8) \
            .reshape(8, 12, 3)
        blob = encode_ppm(img)
        np.testing.assert_allclose(image_feature(blob),
                                   image_feature(decode_image(blob)))

    def test_image_roundtrip_and_resize(self):
        from tstoken.multimodal import decode_image, encode_ppm, resize_image
        img = (np.arange(10 * 14 * 3) % 256).astype(np.uint8) \
            .reshape(10, 14, 3)
        assert (decode_image(encode_ppm(img)) == img).all()
        assert resize_image(encode_ppm(img), 5, 4).shape == (4, 5, 3)

    def test_wav_roundtrip(self):
        from tstoken.multimodal import decode_audio, encode_wav
        x = np.sin(np.arange(1600) / 8000 * 2 * np.pi * 440)
        rate, y = decode_audio(encode_wav(x, rate=8000))
        assert rate == 8000 and len(y) == 1600
        assert np.abs(y - x).max() < 1e-3

    def test_video_sampling(self):
        from tstoken.multimodal import encode_video, sample_video_frames
        img = np.zeros((6, 8, 3), dtype=np.uint8)
        frames = [img, img + 1, img + 2, img + 3]
        got = sample_video_frames(encode_video(frames, fps=2),
                                  every_ms=1000)  # step 2 -> frames 0, 2
        assert len(got) == 2 and got[1][0, 0, 0] == 2

    def test_malformed_headers_rejected(self):
        from tstoken.multimodal import decode_image
        # negative dims must not "decode" into garbage via frombuffer's
        # read-everything on negative count + reshape(-1) inference
        with pytest.raises(ValueError):
            decode_image(b"P6\n-1 5\n255\n" + b"\x00" * 15)
        with pytest.raises(ValueError):
            decode_image(b"P6\n4 4\n255\n" + b"\x00" * 10)  # truncated

    def test_magic_matching_but_malformed_raises_valueerror(self):
        # error contract (ADVICE r3): payloads that pass the magic
        # check but have truncated/garbage chunk structure must raise
        # ValueError for direct callers, never struct.error/IndexError
        import struct as _s
        from tstoken.multimodal import (VIDEO_MAGIC, decode_audio,
                                        encode_wav, sample_video_frames)
        # WAV with an fmt chunk too short for its declared fields
        wav = (b"RIFF" + _s.pack("<I", 20) + b"WAVE"
               + b"fmt " + _s.pack("<I", 16) + b"\x01\x00")  # body cut
        with pytest.raises(ValueError, match="malformed"):
            decode_audio(wav)
        # genuine WAV truncated mid-header
        good = encode_wav(np.sin(np.arange(100) / 5.0), rate=8000)
        with pytest.raises(ValueError):
            decode_audio(good[:30])
        # TSVC claiming frames it doesn't contain
        tsvc = VIDEO_MAGIC + _s.pack("<HI", 4, 3)
        with pytest.raises(ValueError, match="TSVC"):
            sample_video_frames(tsvc)
        # TSVC with header cut mid-field
        with pytest.raises(ValueError, match="TSVC"):
            sample_video_frames(VIDEO_MAGIC + b"\x04")

    def test_codec_stubs_marked(self):
        from tstoken.multimodal import (decode_audio, decode_image,
                                        sample_video_frames)
        # round 5: JPEG/PNG are now REAL decoders (tstoken.imagecodec);
        # a truncated JPEG is malformed data -> ValueError, and only
        # in-spec variants outside scope stay NotImplementedError
        # (arithmetic/lossless JPEG; PNG and Huffman JPEG — baseline
        # AND progressive — now decode, pinned in test_imagecodec).
        with pytest.raises(ValueError):
            decode_image(b"\xff\xd8\xff")             # truncated JPEG
        with pytest.raises(NotImplementedError):
            decode_audio(b"ID3\x03tag")               # MP3
        with pytest.raises(NotImplementedError):
            sample_video_frames(b"\x00\x00\x00 ftypmp42")  # MP4

    def test_undecodable_falls_back_visibly(self, spark):
        from tstoken.multimodal import MEDIA_SCHEMA, extract_features
        media = spark.createDataFrame(
            [("m-bad", "image", bytearray(b"not an image"), 1, 1, 0)],
            MEDIA_SCHEMA)
        out = extract_features(media).toPandas()
        assert not out["decoded"].iloc[0]
        assert len(out["feature"].iloc[0]) == 32


class TestTextOps:
    @pytest.fixture(scope="class")
    def docs(self, spark):
        rows = [
            (1, "the cat sat on the mat", "en", "s1"),
            (2, "the cat sat on the mat", "en", "s1"),          # exact dup
            (3, "the cat sat on the red mat", "en", "s1"),       # near dup
            (4, "der hund und die katze sind von dem haus", "de", "s1"),
            (5, "el perro y el gato es que en la casa", "es", "s2"),
            (6, "completely different text about spark engines", "en", "s2"),
        ]
        return spark.createDataFrame(rows, "doc_id long, text string, "
                                           "lang string, source string")

    def test_exact_dedup(self, spark, docs):
        from tstoken.textops import exact_dedup
        out = exact_dedup(docs).toPandas()
        assert len(out) == 1
        assert out.iloc[0]["keep_doc_id"] == 1
        assert out.iloc[0]["n_dupes"] == 2

    def test_langid(self, docs):
        from tstoken.textops import detect_language
        out = detect_language(docs).toPandas().set_index("doc_id")
        assert out.loc[1, "lang_pred"] == "en"
        assert out.loc[4, "lang_pred"] == "de"
        assert out.loc[5, "lang_pred"] == "es"

    def test_minhash_finds_near_dup(self, docs):
        from tstoken.textops import minhash_dup_pairs
        pairs = minhash_dup_pairs(docs, threshold=0.4).toPandas()
        got = set(map(tuple, pairs[["doc_a", "doc_b"]].to_numpy()))
        assert (1, 2) in got  # identical
        assert (1, 3) in got and (2, 3) in got  # near-dup (J≈0.45)

    def test_simhash_hamming_zero_for_identical(self, docs):
        from tstoken.textops import simhash
        sh = simhash(docs).toPandas().set_index("doc_id")["simhash"]
        assert sh[1] == sh[2]
        assert sh[1] != sh[6]

    def test_rolling_hash_deterministic(self, spark, docs):
        from tstoken.textops import fingerprint
        a = fingerprint(docs).toPandas().set_index("doc_id")["rolling_hash"]
        b = fingerprint(docs).toPandas().set_index("doc_id")["rolling_hash"]
        assert (a == b).all()
        assert a[1] == a[2] and a[1] != a[6]


class TestSimSearch:
    def test_bruteforce_matches_numpy(self, spark):
        from tstoken.simsearch import cosine_topk
        rng = np.random.default_rng(0)
        vecs = rng.standard_normal((50, 8)).astype(np.float64)
        rows = [(i, vecs[i].tolist()) for i in range(50)]
        emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        q = emb.filter("vec_id < 3").selectExpr("vec_id as qid",
                                                "embedding as qvec")
        got = cosine_topk(emb, q, k=5).toPandas()
        norms = np.linalg.norm(vecs, axis=1)
        sims = (vecs @ vecs.T) / np.outer(norms, norms)
        for qid in range(3):
            s = np.round(sims[qid], 6).copy()
            s[qid] = -np.inf
            order = np.lexsort((np.arange(50), -s))[:5]
            mine = got[got["qid"] == qid].sort_values("rank")["vec_id"] \
                .to_numpy()
            assert (mine == order).all(), (qid, mine, order)

    def test_width_mismatch_scores_null_and_never_ranks(self, spark):
        """A vector whose width is not the corpus dim has no cosine: it
        scores NULL, not 0.0, and never ranks ahead of the real (here all
        negative) neighbours in cosine_topk."""
        from tstoken.simsearch import cosine_topk, with_cosine
        emb = spark.createDataFrame(
            [(0, [1.0, 0.0, 0.0]), (1, [-1.0, 0.0, 0.0]),
             (2, [-1.0, -1.0, 0.0]), (3, [1.0, 0.0])],
            "vec_id long, embedding array<double>")
        q = emb.filter("vec_id = 0").selectExpr("vec_id as qid",
                                                "embedding as qvec")
        scored = with_cosine(emb.crossJoin(q), dim=3).toPandas() \
            .set_index("vec_id")["cosine"]
        assert scored[3] is None or np.isnan(scored[3])
        assert scored[2] == round(-1 / np.sqrt(2), 6) and scored[1] == -1.0
        got = cosine_topk(emb, q, k=3).toPandas().sort_values("rank")
        assert got["vec_id"].tolist() == [2, 1]

    def test_lsh_recall(self, spark):
        from tstoken.simsearch import cosine_topk, lsh_topk
        rng = np.random.default_rng(1)
        vecs = rng.standard_normal((200, 16))
        rows = [(i, vecs[i].tolist()) for i in range(200)]
        emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        q = emb.filter("vec_id < 5").selectExpr("vec_id as qid",
                                                "embedding as qvec")
        exact = cosine_topk(emb, q, k=5).toPandas()
        approx = lsh_topk(emb, q, dim=16, k=5, n_planes=6, n_tables=8) \
            .toPandas()
        e = set(map(tuple, exact[["qid", "vec_id"]].to_numpy()))
        a = set(map(tuple, approx[["qid", "vec_id"]].to_numpy()))
        recall = len(e & a) / len(e)
        assert recall >= 0.5, recall


class TestTextOpsRound2:
    def test_simhash_keeps_zero_word_docs(self, spark):
        from tstoken.textops import simhash
        docs = spark.createDataFrame(
            [(1, "real words here", "en", "s1"), (2, "?!?! ---", "en", "s1")],
            "doc_id long, text string, lang string, source string")
        sh = simhash(docs).toPandas().set_index("doc_id")["simhash"]
        assert len(sh) == 2           # zero-word doc not dropped
        assert sh[2] == 0             # all-zero votes -> simhash 0
        assert sh[1] != 0

    def test_neardup_banded_prefilter_subset_of_exact(self, spark):
        import numpy as np

        from tstoken.simsearch import cosine_neardup_pairs
        rng = np.random.default_rng(5)
        base = rng.standard_normal((30, 16))
        # plant 5 near-identical pairs
        vecs = np.vstack([base, base[:5] + rng.normal(0, 0.01, (5, 16))])
        emb = spark.createDataFrame(
            [(i, vecs[i].tolist()) for i in range(len(vecs))],
            "vec_id long, embedding array<double>")
        # prefilter_planes=0 pins the exact all-pairs reference; the
        # library default is the banded prefilter (round-2 verdict #3)
        exact = cosine_neardup_pairs(emb, threshold=0.9,
                                     prefilter_planes=0).toPandas()
        pre = cosine_neardup_pairs(emb, threshold=0.9, prefilter_planes=4,
                                   prefilter_tables=8, dim=16).toPandas()
        ex = set(map(tuple, exact[["id_a", "id_b"]].to_numpy()))
        pr = set(map(tuple, pre[["id_a", "id_b"]].to_numpy()))
        assert pr <= ex               # prefilter never invents pairs
        planted = {(i, 30 + i) for i in range(5)}
        assert planted <= ex
        # near-identical pairs (cos ~ 1) survive banded prefiltering
        assert len(planted & pr) >= 4


class TestIvf:
    @pytest.fixture(scope="class")
    def emb(self, spark):
        rng = np.random.default_rng(11)
        vecs = rng.standard_normal((200, 16))
        return spark.createDataFrame(
            [(i, vecs[i].tolist()) for i in range(200)],
            "vec_id long, embedding array<double>").cache()

    def test_assign_partitions_corpus(self, emb):
        from tstoken.simsearch import ivf_assign, train_ivf_centroids
        cents = train_ivf_centroids(emb, n_centroids=8)
        assigned = ivf_assign(emb, "embedding", cents).toPandas()
        assert assigned["ivf_cluster"].between(0, 7).all()
        assert assigned["ivf_cluster"].nunique() >= 4  # spread, not one bucket

    def test_ivf_topk_recall_vs_exact(self, emb):
        from tstoken.simsearch import cosine_topk, ivf_topk
        q = emb.filter("vec_id < 10").selectExpr("vec_id as qid",
                                                 "embedding as qvec")
        exact = cosine_topk(emb, q, k=5).toPandas()
        # probing half the clusters must recover most exact neighbors
        approx = ivf_topk(emb, q, k=5, n_centroids=8, nprobe=4).toPandas()
        ex = set(map(tuple, exact[["qid", "vec_id"]].to_numpy()))
        ap = set(map(tuple, approx[["qid", "vec_id"]].to_numpy()))
        assert len(ex & ap) / len(ex) >= 0.5
        # full probe == exhaustive == exact
        full = ivf_topk(emb, q, k=5, n_centroids=8, nprobe=8).toPandas()
        fu = set(map(tuple, full[["qid", "vec_id"]].to_numpy()))
        assert fu == ex


class TestStatefulStreaming:
    def test_streaming_zscore_flags_state_across_batches(self, spark, tmp_path):
        import shutil
        from datetime import datetime, timedelta

        from tstoken.streaming import streaming_zscore_flags
        src_dir = tmp_path / "tier_stream"
        src_dir.mkdir()
        base = datetime(2024, 1, 1)
        rng = np.random.default_rng(2)

        def batch(path, lo, hi, spike_at=None):
            rows = []
            for i in range(lo, hi):
                v = int(100 + rng.integers(-5, 6))
                if spike_at is not None and i == spike_at:
                    v = 1000
                rows.append(("src-000", base + timedelta(minutes=i), v))
            spark.createDataFrame(
                rows, "source string, bucket_ts timestamp, sum_n_tok long"
            ).coalesce(1).write.mode("overwrite").parquet(str(path))

        # batch 1 warms the state; batch 2 carries the spike
        batch(src_dir / "b1", 0, 60)
        stream = (spark.readStream
                  .schema("source string, bucket_ts timestamp, sum_n_tok long")
                  .parquet(str(src_dir) + "/*"))
        fl = streaming_zscore_flags(stream, threshold=3.0, min_history=30)
        chk = str(tmp_path / "chk")
        q = (fl.writeStream.format("memory").queryName("sz")
             .outputMode("append").option("checkpointLocation", chk).start())
        q.processAllAvailable()
        batch(src_dir / "b2", 60, 120, spike_at=90)
        q.processAllAvailable()
        out = spark.sql("select * from sz").toPandas() \
            .sort_values("bucket_ts").reset_index(drop=True)
        q.stop()
        assert len(out) == 120
        spike_row = out[out["value"] == 1000.0]
        assert len(spike_row) == 1 and bool(spike_row.iloc[0]["is_outlier"])
        # warmup rows never flagged; state carried across batches
        assert not out.iloc[:30]["is_outlier"].any()
        assert int(out["is_outlier"].sum()) <= 2
        assert out.iloc[119]["n_seen"] == 119

    def test_streaming_zscore_late_bucket_scored_not_dropped(
            self, spark, tmp_path):
        """Out-of-order drill for the CUSTOM stateful operator — the
        complement of the rollup watermark drill above. The Welford
        detector keeps no watermark (state never expires), so a bucket
        arriving batches late must be (a) processed, never dropped,
        (b) scored against the state AS OF ARRIVAL (n_seen = every
        point folded before it, not its event-time position), and
        (c) ordered before same-batch later buckets (within-batch
        bucket_ts sort). This is the documented semantics of
        streaming.py:streaming_zscore_flags — monitoring alerts on
        what the stream has SEEN, not on a replayed event-time order.
        """
        from datetime import datetime, timedelta

        from tstoken.streaming import streaming_zscore_flags
        src_dir = tmp_path / "late_tier_stream"
        src_dir.mkdir()
        base = datetime(2024, 1, 1)

        def write(path, rows):
            spark.createDataFrame(
                rows, "source string, bucket_ts timestamp, sum_n_tok long"
            ).coalesce(1).write.mode("overwrite").parquet(str(path))

        # batch 1: minutes 0..39, alternating 99/101 (sd ~ 1.0)
        write(src_dir / "b1",
              [("src-000", base + timedelta(minutes=i), 99 + 2 * (i % 2))
               for i in range(40)])
        stream = (spark.readStream
                  .schema("source string, bucket_ts timestamp, "
                          "sum_n_tok long")
                  .parquet(str(src_dir) + "/*"))
        fl = streaming_zscore_flags(stream, threshold=3.0, min_history=30)
        q = (fl.writeStream.format("memory").queryName("sz_late")
             .outputMode("append")
             .option("checkpointLocation", str(tmp_path / "chk2"))
             .start())
        try:
            q.processAllAvailable()
            # batch 2: a 30-minutes-LATE spike bucket + an on-time one
            write(src_dir / "b2",
                  [("src-000", base + timedelta(minutes=10), 1000),
                   ("src-000", base + timedelta(minutes=40), 101)])
            q.processAllAvailable()
        finally:
            q.stop()

        out = spark.sql("select * from sz_late").toPandas()
        assert len(out) == 42  # the late bucket was processed, not dropped
        late = out[out["value"] == 1000.0].iloc[0]
        # scored against all 40 points folded before its ARRIVAL
        assert late["n_seen"] == 40 and bool(late["is_outlier"])
        # the same-batch minute-40 bucket processed AFTER the late one
        # (within-batch bucket_ts order) — and the folded spike has
        # blown up the running sd, so it is not flagged
        m40 = out[out["bucket_ts"] == base + timedelta(minutes=40)].iloc[0]
        assert m40["n_seen"] == 41 and not bool(m40["is_outlier"])
