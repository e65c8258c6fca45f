"""The benchmark's workloads: staged inputs, one pass, its checks.

Each workload sends most of a pass through different engine modules:

  ingest    rollup (posexplode fan-out of long docs), cascades,
            gap-fill, fused IQR + MAD flags;
  maintain  simulated crash and checkpoint resume, then a streaming
            replay, over short docs.

The traced run adds a probe per workload (`probe`): the layer calls no
pass makes (the other detectors and media decode on ingest; the
checkpointed build, no-op resume, compressed tiers and retention on
maintain). The engine receives only generated tables. Layer calls sit
inside tracer spans named after the layer metric they feed (run.py).
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import statistics
import time
from datetime import datetime, timedelta, timezone
from functools import reduce

import numpy as np
from pyspark.sql import functions as F

from tstoken import (checkpoint, compress, detect, gapfill, multimodal,
                     retention, rollup, synth)
from tstoken.tableio import TableIO

import oracle
from tracing import Tracer

PROBE_NATIVE = ("zscore", "ma", "extrema_ensemble")
GROUPED = ("stl", "stl_z", "mstl", "classic", "esd")
TIERS = ("1m", "1h", "1d")
# the tier aggregates the streaming rollup computes (it has no sum_tok_sq)
STREAM_COMPARED = ("n_docs", "sum_n_tok", "min_n_tok", "max_n_tok")


def content_key(params: dict, root: str) -> str:
    """Directory key of a staged input: every parameter that shapes it
    plus the bytes of the generator, so a stale table is never read."""
    with open(os.path.join(root, "src", "tstoken", "synth.py"), "rb") as f:
        synth_sha = hashlib.sha256(f.read()).hexdigest()
    blob = json.dumps({**params, "synth_sha256": synth_sha}, sort_keys=True)
    return hashlib.sha256(blob.encode()).hexdigest()[:16]


def stage_raw(spark, path: str, p: dict, seed: int, parts: int) -> None:
    """Generate tokens_raw and write it as parquet (`parts` files)."""
    raw = synth.generate_tokens_raw(spark, p["rows"], n_sources=p["sources"],
                                    seed=seed, zipf_exp=p["zipf_exp"])
    if p["doc_cap"]:
        # the first doc_cap elements of synth's token formula; building
        # them directly lets Spark prune the full-length arrays
        seq = F.substring_index("doc_id", "-", -1).cast("long")
        n = F.least(F.col("n_tok"), F.lit(p["doc_cap"]))
        raw = raw.withColumn("tokens", F.transform(
            F.sequence(F.lit(0), n - 1),
            lambda i: F.pmod(F.lit(1000003) * (seq * F.lit(131) + i)
                             + F.lit(17), F.lit(50257)).cast("int")))
    raw.repartition(parts).write.mode("overwrite").parquet(path)


def oracle_tiers(p: dict, seed: int) -> dict:
    pdf = synth.generate_tokens_raw_pandas(p["rows"], p["sources"], seed=seed,
                                           zipf_exp=p["zipf_exp"])
    return oracle.tiers(oracle.doc_frame(pdf, synth.T0_EPOCH, p["doc_cap"]))


def engine_tier(df, cols=oracle.AGG_COLS):
    """Collect an engine tier as an oracle-shaped pandas frame."""
    pdf = (df.select("source", F.col("bucket_ts").cast("long").alias("bucket"),
                     *cols).toPandas())
    return oracle.normalize(pdf, cols)


def force_flags(tr: Tracer, dfs: dict) -> list:
    """Run every detector and collect, per (detector, source, method),
    the row count, outlier count and outlier bucket epochs. Traced:
    each detector is materialized inside its own span first."""
    if tr.enabled:
        for name in dfs:
            with tr.span(name):
                dfs[name] = tr.materialize(dfs[name])
    u = reduce(lambda a, b: a.unionByName(b),
               [df.withColumn("det", F.lit(name)) for name, df in dfs.items()])
    return (u.groupBy("det", "source", "method")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum(F.col("is_outlier").cast("int")).alias("n_out"),
                 F.collect_list(F.when(F.col("is_outlier"),
                                       F.col("bucket_ts").cast("long")))
                 .alias("out_ts"))
            .collect())


def store_walk(path: str, since: float) -> tuple[int, int]:
    """(bytes, files) of data files under `path` modified at or after
    `since` — what a step wrote."""
    nbytes = nfiles = 0
    for dirpath, _dirs, files in os.walk(path):
        for name in files:
            if name.startswith(".") or name.endswith(".crc"):
                continue
            st = os.stat(os.path.join(dirpath, name))
            if st.st_mtime >= since:
                nbytes += st.st_size
                nfiles += 1
    return nbytes, nfiles


def tableio_metrics(writes: dict) -> dict:
    """tableio.<step>.{bytes_written_mb,files_written} per traced step."""
    out = {}
    for name, (nbytes, nfiles) in writes.items():
        step = name.split(".")[-1]
        out[f"tableio.{step}.bytes_written_mb"] = nbytes / 2**20
        out[f"tableio.{step}.files_written"] = nfiles
    return out


def timed_median(fn, reps: int = 3) -> float:
    walls = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        walls.append(time.perf_counter() - t0)
    return statistics.median(walls)


class Workload:
    """One workload: `setup` stages inputs, `run_pass` is the measured
    job, `check` verifies the last pass against independent results."""

    name = ""
    params: dict = {}
    # --seconds is split into steady passes of this many seconds each
    seconds_per_pass: float

    def __init__(self, spark, root: str, work: str, seed: int, cpus: int,
                 tracer: Tracer):
        self.spark, self.root, self.seed, self.cpus = spark, root, seed, cpus
        self.tr = tracer
        self.key = content_key({"workload": self.name, "seed": seed,
                                **self.params}, root)
        self.dir = os.path.join(work, self.key)
        self._cached: list = []
        self.last: dict = {}    # the last pass's outputs, for the checks
        self.layer: dict = {}   # per-layer counts of the last pass / probe

    def _keep(self, df):
        self._cached.append(df)
        return df

    def release(self) -> None:
        """Drop the previous pass's cached data before the next pass:
        a live cache would turn a canonically-equal plan into a read."""
        for df in self._cached:
            df.unpersist(blocking=True)
        self._cached = []

    def setup(self) -> None:
        raise NotImplementedError

    def run_pass(self) -> dict:
        raise NotImplementedError

    def check(self) -> list[tuple[str, bool, str]]:
        raise NotImplementedError

    def probe(self) -> list[tuple[str, bool, str]]:
        """Traced run only, after the traced passes: the layer calls no
        pass makes, each once in its span. Returns check results."""
        raise NotImplementedError

    def work_rows(self) -> int:
        """Rows a pass consumes; rows_per_s = work_rows / pass_s."""
        raise NotImplementedError

    def layer_metrics(self) -> dict:
        """Per-layer values that are counts or driver-timed kernels."""
        return dict(self.layer)


# ---------------------------------------------------------------- ingest

class Ingest(Workload):
    name = "ingest"
    seconds_per_pass = 5.0     # a steady pass takes 3-4 s on 4 cores
    params = {"rows": 6500, "sources": 8, "zipf_exp": synth.ZIPF_EXP,
              "doc_cap": None, "images_per_kind": 6, "image_side": 96}

    def setup(self) -> None:
        self.raw_path = os.path.join(self.dir, "tokens_raw")
        stage_raw(self.spark, self.raw_path, self.params, self.seed,
                  2 * self.cpus)

    def work_rows(self) -> int:
        return self.params["rows"]

    def run_pass(self) -> dict:
        self.release()
        tr, spark = self.tr, self.spark
        raw = spark.read.parquet(self.raw_path)
        with tr.span("rollup.rollup_1m"):
            t1m = self._keep(rollup.rollup_1m(raw, n_salts=self.cpus).persist())
            n1m = t1m.count()
        with tr.span("rollup.cascade_1h"):
            t1h = self._keep(rollup.rollup_cascade(t1m, "1h").persist())
            n1h = t1h.count()
        with tr.span("rollup.cascade_1d"):
            t1d = self._keep(rollup.rollup_cascade(t1h, "1d").persist())
            n1d = t1d.count()
        with tr.span("gapfill.gap_fill"):
            gf = self._keep(tr.materialize(gapfill.gap_fill(t1m, "1m")))
        dfs = {"detect.iqr_flags": detect.iqr_flags(gf),
               "detect.mad_flags": detect.mad_flags(gf)}
        force_flags(tr, dfs)
        self._cached += [d for d in dfs.values() if d.is_cached]
        self.last = {"tiers": {"1m": t1m, "1h": t1h, "1d": t1d}, "gf": gf,
                     "rows_1m": n1m}
        return {"rolled_points": n1m + n1h + n1d}

    def check(self):
        want = oracle_tiers(self.params, self.seed)
        out = []
        for t, df in self.last["tiers"].items():
            diff = oracle.frame_diff(engine_tier(df), want[t])
            out.append((f"tier_{t}_equals_numpy_oracle", diff is None,
                        diff or ""))
        return out + native_flag_checks(self.last["gf"], ("iqr", "mad"))

    # -- traced run only: the detectors and media decode no pass runs

    def probe(self) -> list:
        """Run the remaining native detectors, the grouped Arrow-UDF
        detectors and media feature extraction once, each in its span,
        over the last pass's gap-filled 1m tier; score F1; time the
        stats and image kernels on the driver. Returns check results."""
        tr, spark, p = self.tr, self.spark, self.params
        gf = self.last["gf"]
        truth = synth.ground_truth(spark, p["rows"], n_sources=p["sources"],
                                   seed=self.seed, zipf_exp=p["zipf_exp"])
        truth = {(r[0], r[1]) for r in (
            truth.join(self.last["tiers"]["1m"], ["source", "bucket_ts"],
                       "left_semi")
            .select("source", F.col("bucket_ts").cast("long")).collect())}
        images = self._images()
        media = spark.createDataFrame(
            [(f"m-{i:05d}", "image", bytearray(b), *shape, 0)
             for i, (_c, b, shape) in enumerate(images)],
            multimodal.MEDIA_SCHEMA).persist()
        media.count()
        with tr.span("probe"):
            dfs = {f"detect.{m}_flags": getattr(detect, f"{m}_flags")(gf)
                   for m in PROBE_NATIVE}
            dfs.update({f"detect.grouped_flags.{m}":
                        detect.grouped_flags(gf, "1m", m) for m in GROUPED})
            groups = force_flags(tr, dfs)
            with tr.span("multimodal.extract_features"):
                decoded = (tr.materialize(multimodal.extract_features(media))
                           .select("media_id", "decoded").collect())
        pred = {(r["source"], ts) for r in groups
                if r["det"] == "detect.extrema_ensemble_flags"
                for ts in r["out_ts"]}
        tp = len(pred & truth)
        prec, rec = tp / max(len(pred), 1), tp / max(len(truth), 1)
        grouped = [r for r in groups if ".grouped_flags." in r["det"]]
        self.layer = {
            "detect.anomaly_f1": 2 * prec * rec / max(prec + rec, 1e-9),
            "detect.fallback_ratio": sum(r["method"] == "iqr_fallback"
                                         for r in grouped) / max(len(grouped), 1),
            "detect.scored_points": self.last["gf"].count() * len(dfs),
            "multimodal.decoded_ratio": sum(r["decoded"] for r in decoded)
            / max(len(decoded), 1),
            "multimodal.items": len(decoded),
            **self._kernels(images),
        }
        n = self.last["gf"].count()
        per_det: dict = {}
        for r in groups:
            per_det[r["det"]] = per_det.get(r["det"], 0) + r["n"]
        bad = {d: c for d, c in per_det.items() if c != n}
        undecoded = [r["media_id"] for r in decoded if not r["decoded"]]
        return native_flag_checks(gf, ("zscore",)) + [
            ("every_detector_flags_every_point",
             not bad and len(per_det) == len(dfs), str(bad)),
            ("every_png_jpeg_decoded",
             not undecoded and len(decoded) == len(images),
             f"undecoded {undecoded[:5]}")]

    def _images(self) -> list[tuple[str, bytes, tuple[int, int]]]:
        """Seeded gradient+noise RGB images, encoded by the repo's own
        PNG and baseline/progressive JPEG encoders."""
        from tstoken.imagecodec import jpeg_encode
        from tstoken.plotting import png_encode
        side = self.params["image_side"]
        rng = np.random.default_rng(self.seed)
        out = []
        for i in range(self.params["images_per_kind"]):
            yy, xx = np.mgrid[0:side, 0:side]
            img = ((xx + yy) * 255.0 / (2 * side - 2)
                   + rng.normal(0, 12, (side, side))).clip(0, 255)
            rgb = np.stack([img, np.roll(img, 3 + i, axis=1), img[::-1]],
                           axis=2).astype(np.uint8)
            out += [("png", png_encode(rgb), (side, side)),
                    ("jpeg_baseline", jpeg_encode(rgb, 90), (side, side)),
                    ("jpeg_progressive", jpeg_encode(rgb, 90, progressive=True),
                     (side, side))]
        return out

    def _kernels(self, images) -> dict:
        """Driver-timed stats kernels on the hot source's 1m series, and
        per-image decode walls."""
        from tstoken.imagecodec import jpeg_decode, png_decode
        from tstoken.stats import normality
        from tstoken.stats.decompose import seasonal_decompose
        from tstoken.stats.esd import generalized_esd
        from tstoken.stats.mstl import mstl_fit
        from tstoken.stats.stl import stl_fit

        hot = (self.last["gf"].filter(F.col("source") == "src-000")
               .orderBy("bucket_ts").select(detect.VALUE_COL).toPandas()
               [detect.VALUE_COL].to_numpy(dtype=np.float64))
        period = rollup.TIER_PERIOD["1m"]
        resid = stl_fit(hot, period=period, seasonal=period + 1).resid

        def shapiro_cold():
            # the null table is cached per process; a fresh Python
            # worker pays for building it, so time it uncached
            normality._NULL_CACHE.clear()
            normality.monte_carlo_shapiro_pvalue(resid)

        out = {
            "stats.stl_fit_s": timed_median(
                lambda: stl_fit(hot, period=period, seasonal=period + 1)),
            "stats.mstl_fit_s": timed_median(
                lambda: mstl_fit(hot, periods=(period,))),
            "stats.monte_carlo_shapiro_pvalue_s": timed_median(shapiro_cold),
            "stats.generalized_esd_s": timed_median(
                lambda: generalized_esd(hot, max_anomalies=len(hot) // 20)),
            "stats.seasonal_decompose_s": timed_median(
                lambda: seasonal_decompose(hot, "additive", period=period)),
        }
        decoders = {"png": ("png_decode", png_decode),
                    "jpeg_baseline": ("jpeg_decode_baseline", jpeg_decode),
                    "jpeg_progressive": ("jpeg_decode_progressive", jpeg_decode)}
        for kind, (metric, dec) in decoders.items():
            walls = []
            for c, blob, _shape in images:
                if c == kind:
                    t0 = time.perf_counter()
                    dec(blob)
                    walls.append(time.perf_counter() - t0)
            out[f"imagecodec.{metric}_ms"] = 1000 * statistics.median(walls)
        return out

    def layer_metrics(self) -> dict:
        gf = self.last["gf"]
        return {"rollup.rows_out": self.last["rows_1m"],
                "gapfill.filled_ratio": gf.filter("gap_filled").count()
                / max(gf.count(), 1),
                **self.layer}


def native_flag_checks(gf, methods) -> list:
    """Native detector flags == stats.dispersion labels computed on the
    collected series, per source."""
    from tstoken.stats.dispersion import iqr_labels, mad_labels, zscore
    kernels = {"iqr": iqr_labels, "mad": mad_labels,
               "zscore": lambda x: np.abs(zscore(x)) > 2.0}
    series = (gf.select("source", F.col("bucket_ts").cast("long").alias("ts"),
                        F.col(detect.VALUE_COL).cast("double").alias("v"))
              .toPandas().sort_values(["source", "ts"]))
    out = []
    for m in methods:
        flags = (getattr(detect, f"{m}_flags")(gf)
                 .select("source", F.col("bucket_ts").cast("long").alias("ts"),
                         "is_outlier")
                 .toPandas().sort_values(["source", "ts"]))
        want = np.concatenate([kernels[m](g["v"].to_numpy())
                               for _s, g in series.groupby("source")])
        got = flags["is_outlier"].to_numpy(dtype=bool)
        same = (len(got) == len(want)
                and (flags["ts"].to_numpy() == series["ts"].to_numpy()).all()
                and (got == want).all())
        out.append((f"native_{m}_equals_stats_dispersion", bool(same),
                    f"{len(got)} flags vs {len(want)} labels"))
    return out


# -------------------------------------------------------------- maintain

class Maintain(Workload):
    name = "maintain"
    # a steady pass takes 5-7 s on 4 cores, but its CPU per pass keeps
    # falling (JIT) for longer than ingest's: more passes, so the
    # cheapest one is further warmed up
    seconds_per_pass = 4.0
    params = {"rows": 3000, "sources": 4, "zipf_exp": 0.0, "doc_cap": 16,
              "stream_files": 2, "crash_sources": 1,
              "retention_cut_s": 3 * 3600}
    # now - 7 days (the 1m horizon) lands retention_cut_s after T0
    RETENTION_NOW = (datetime.fromtimestamp(synth.T0_EPOCH, timezone.utc)
                     + retention.DEFAULT_HORIZONS["1m"]
                     + timedelta(seconds=params["retention_cut_s"]))

    def setup(self) -> None:
        self.raw_path = os.path.join(self.dir, "tokens_raw")
        self.stream_path = os.path.join(self.dir, "stream_src")
        stage_raw(self.spark, self.raw_path, self.params, self.seed, self.cpus)
        self._cut_stream_files()
        rng = np.random.default_rng(self.seed)
        self.crashed = sorted(
            f"src-{i:03d}" for i in rng.choice(
                self.params["sources"], self.params["crash_sources"],
                replace=False))
        self.n_pass = 0

    def _cut_stream_files(self) -> None:
        """Replay files cut on GLOBAL event time, on minute boundaries:
        file k holds every row with event minute in [k*W, (k+1)*W), so
        the global watermark never passes a row still to come and no
        bucket spans two files. Modification times order the files."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        table = pq.read_table(self.raw_path)
        src = table.column("source").to_pandas()
        seq = table.column("doc_id").to_pandas().str.rsplit("-", n=1).str[1]
        step = 3 + (src.str.slice(4, 7).astype(np.int64) * 7) % 43
        minute = (seq.astype(np.int64) * step) // 60
        width = -(-(int(minute.max()) + 1) // self.params["stream_files"])
        shutil.rmtree(self.stream_path, ignore_errors=True)
        os.makedirs(self.stream_path)
        base = time.time() - 3600
        for k in range(self.params["stream_files"]):
            idx = np.flatnonzero((minute // width).to_numpy() == k)
            path = os.path.join(self.stream_path, f"part-{k:04d}.parquet")
            pq.write_table(table.take(pa.array(idx)), path)
            os.utime(path, (base + k, base + k))

    def work_rows(self) -> int:
        return self.params["rows"]

    def _step(self, io, writes, name, fn):
        """Run one maintenance step in its span; traced, also record what
        it wrote to the store."""
        t0 = time.time()
        with self.tr.span(name) as s:
            res = fn()
        if s is not None:
            writes[name] = store_walk(io.base_dir, t0)
        return res

    def _build(self, io, writes):
        return self._step(io, writes, "checkpoint.build",
                          lambda: checkpoint.run_incremental_rollup(
                              self.spark, io, self.spark.read.parquet(
                                  self.raw_path), n_salts=self.cpus))

    def run_pass(self) -> dict:
        """One crash-recovery cycle on a fresh copy of the built store:
        crash, resume, then a streaming replay of the same rows. The
        first pass builds that store from empty (checkpointed build) and
        keeps it as the template and as the pre-crash reference."""
        self.release()
        tr, spark = self.tr, self.spark
        self.n_pass += 1
        pdir = os.path.join(self.dir, f"pass{self.n_pass}")
        shutil.rmtree(os.path.join(self.dir, f"pass{self.n_pass - 1}"),
                      ignore_errors=True)
        template = os.path.join(self.dir, "built_store")
        writes: dict = {}
        if not os.path.isdir(template):
            io = TableIO(spark, template, backend="parquet")
            self._build(io, writes)
        shutil.copytree(template, os.path.join(pdir, "store"))
        io = TableIO(spark, os.path.join(pdir, "store"), backend="parquet")
        raw = spark.read.parquet(self.raw_path)

        def crash():
            led = checkpoint.read_ledger(io)
            pdf = led.toPandas()
            gone = (pdf["tier"] == "1m") & pdf["source"].isin(self.crashed)
            io.overwrite("ledger", spark.createDataFrame(pdf[~gone], led.schema),
                         partition_by=("tier",))
            return int(gone.sum()), len(pdf)

        erased, ledger_rows = self._step(io, writes, "checkpoint.crash", crash)
        t_res = time.perf_counter()
        replayed = self._step(io, writes, "checkpoint.resume",
                              lambda: checkpoint.run_incremental_rollup(
                                  spark, io, raw, n_salts=self.cpus))
        resume_s = time.perf_counter() - t_res

        stream = self._step(io, writes, "streaming.replay",
                            lambda: self._replay(pdir))
        self.last = {"io": io, "erased": erased,
                     "replayed": replayed, "stream": stream}
        self.layer = {
            "checkpoint.units_erased": erased,
            "checkpoint.units_replayed": sum(replayed.values()),
            "checkpoint.ledger_rows": ledger_rows,
            **{k: v for k, v in stream.items() if k != "query"},
            **tableio_metrics(writes),
        }
        return {"resume_s": resume_s,
                "stream_rows_per_s": stream["streaming.rows_per_s"]}

    def probe(self) -> list:
        """Traced run only, each step in its span: a checkpointed build
        into an empty store and a no-op resume over it; then compress +
        decompress of all three tiers and retention at a fixed `now`
        over the last pass's resumed store. Returns check results."""
        tr, spark = self.tr, self.spark
        io = TableIO(spark, os.path.join(self.dir, "probe_store"),
                     backend="parquet")
        last = self.last["io"]
        before = {t: engine_tier(last.read(f"rollup_{t}")) for t in TIERS}
        writes: dict = {}
        with tr.span("probe"):
            self._build(io, writes)
            noop = self._step(io, writes, "checkpoint.noop_resume",
                              lambda: checkpoint.run_incremental_rollup(
                                  spark, io, spark.read.parquet(self.raw_path),
                                  n_salts=self.cpus))
            # all three tiers' blocks in one frame: two actions, not nine
            with tr.span("compress.compress_tier"):
                blocks = self._keep(reduce(lambda a, b: a.unionByName(b), [
                    compress.compress_tier(last.read(f"rollup_{t}"), tier=t)
                    .withColumn("tier", F.lit(t)) for t in TIERS]).persist())
                block_bytes, points = blocks.agg(
                    F.sum(F.length("ts_block") + F.length("val_block")),
                    F.sum("n_points")).first()
            with tr.span("compress.decompress_blocks"):
                compress.decompress_blocks(blocks.drop("tier")).write \
                    .format("noop").mode("overwrite").save()
            self._step(last, writes, "retention.apply_retention",
                       lambda: [retention.apply_retention(
                           last, t, now=self.RETENTION_NOW) for t in TIERS])
        self.layer.update({
            "compress.block_bytes": block_bytes, "compress.points": points,
            "compress.block_bytes_per_point": block_bytes / max(points, 1),
            **tableio_metrics(writes)})
        out = [("noop_resume_processes_nothing",
                noop == {t: 0 for t in TIERS}, str(noop))]
        for t in TIERS:
            dec = (compress.decompress_blocks(
                       blocks.filter(F.col("tier") == t).drop("tier"))
                   .select("source", F.col("bucket_ts").cast("long").alias("bucket"),
                           "value").toPandas()
                   .sort_values(["source", "bucket"]).reset_index(drop=True))
            ref = before[t]
            same = (len(dec) == len(ref)
                    and (dec["bucket"].to_numpy() == ref["bucket"].to_numpy()).all()
                    and (dec["source"].to_numpy() == ref["source"].to_numpy()).all()
                    and (dec["value"].to_numpy().view(np.int64) ==
                         ref["sum_n_tok"].to_numpy(np.float64).view(np.int64)).all())
            out.append((f"decompress_compress_{t}_bit_identical", bool(same),
                        f"{len(dec)} vs {len(ref)} points"))
        cutoff = int((self.RETENTION_NOW - retention.DEFAULT_HORIZONS["1m"])
                     .timestamp())
        kept = engine_tier(last.read("rollup_1m"))
        expect = before["1m"][before["1m"]["bucket"] >= cutoff].reset_index(drop=True)
        diff = oracle.frame_diff(kept, expect)
        self.layer["retention.rows_deleted"] = len(before["1m"]) - len(kept)
        out.append(("retention_keeps_exactly_buckets_at_or_after_cutoff",
                    diff is None and len(expect) < len(before["1m"]), diff or ""))
        return out

    def _replay(self, pdir: str) -> dict:
        from tstoken.streaming import streaming_rollup_1m
        spark = self.spark
        name = f"replay_{self.n_pass}"
        schema = spark.read.parquet(self.raw_path).schema
        src = (spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
               .parquet(self.stream_path))
        t0 = time.perf_counter()
        q = (streaming_rollup_1m(src).writeStream.format("memory")
             .queryName(name).outputMode("update")
             .option("checkpointLocation", os.path.join(pdir, "stream_ckpt"))
             .trigger(availableNow=True).start())
        if self.tr.enabled:
            self.tr.spans[-1].attrs["job_groups"] = [str(q.runId)]
        q.awaitTermination()
        wall = time.perf_counter() - t0
        prog = [p for p in q.recentProgress if p["numInputRows"] > 0]
        ops = [p["stateOperators"][0] for p in prog if p["stateOperators"]]
        missing = [c for c in rollup.ROLLUP_COLUMNS
                   if c not in spark.table(name).columns]
        return {"query": name,
                "streaming.batches": len(prog),
                "streaming.batch_ms_p50": statistics.median(
                    p["durationMs"]["triggerExecution"] for p in prog),
                "streaming.state_rows": ops[-1]["numRowsTotal"] if ops else 0,
                "streaming.state_mb": (ops[-1]["memoryUsedBytes"] / 2**20
                                       if ops else 0.0),
                "streaming.rows_dropped_by_watermark": sum(
                    o["numRowsDroppedByWatermark"] for o in ops),
                "streaming.missing_rollup_columns": len(missing),
                "streaming.rows_per_s": sum(p["numInputRows"] for p in prog)
                / wall}

    def check(self):
        spark, last = self.spark, self.last
        io = last["io"]
        want = oracle_tiers(self.params, self.seed)
        out = []
        pre = {t: engine_tier(spark.read.parquet(
            os.path.join(self.dir, "built_store", f"rollup_{t}")))
            for t in TIERS}
        post = {t: engine_tier(io.read(f"rollup_{t}")) for t in TIERS}
        raw = spark.read.parquet(self.raw_path)
        t1m = rollup.rollup_1m(raw, n_salts=self.cpus).persist()
        t1h = rollup.rollup_cascade(t1m, "1h")
        oneshot = {"1m": engine_tier(t1m), "1h": engine_tier(t1h),
                   "1d": engine_tier(rollup.rollup_cascade(t1h, "1d"))}
        t1m.unpersist()
        for t in TIERS:
            for label, got in (("pre_crash", pre[t]), ("resumed", post[t]),
                               ("one_shot", oneshot[t])):
                diff = oracle.frame_diff(got, want[t])
                out.append((f"{label}_{t}_equals_numpy_oracle", diff is None,
                            diff or ""))
        erased, replayed = last["erased"], last["replayed"]
        out.append(("units_replayed_equals_units_erased",
                    erased > 0 and replayed["1m"] == erased
                    and replayed["1h"] == replayed["1d"] == 0,
                    f"erased {erased} replayed {replayed}"))
        stream = engine_tier(spark.table(last["stream"]["query"]), STREAM_COMPARED)
        batch = want["1m"][["source", "bucket", *STREAM_COMPARED]]
        diff = oracle.frame_diff(stream, batch)
        dropped = last["stream"]["streaming.rows_dropped_by_watermark"]
        out.append(("stream_equals_batch_1m", diff is None and dropped == 0,
                    diff or f"dropped {dropped}"))
        return out

    def layer_metrics(self) -> dict:
        from tstoken.compress import encode_timestamps, encode_values
        built = os.path.join(self.dir, "built_store", "rollup_1m")
        hot = (self.spark.read.parquet(built).filter(F.col("source") == "src-000")
               .orderBy("bucket_ts")
               .select(F.col("bucket_ts").cast("long").alias("ts"),
                       F.col("sum_n_tok").cast("double").alias("v")).toPandas())
        ts, vals = hot["ts"].to_numpy(np.int64), hot["v"].to_numpy(np.float64)
        return {**self.layer,
                "compress.encode_values_s": timed_median(
                    lambda: encode_values(vals)),
                "compress.encode_timestamps_s": timed_median(
                    lambda: encode_timestamps(ts))}


WORKLOADS = {w.name: w for w in (Ingest, Maintain)}
