"""Driver contract for the spark-graft builder (PySpark target).

Engine: tstoken (src/tstoken) — PySpark-native time-series rollup/
downsample/retention + anomaly engine per SURVEY.md. Queries fall in
three families:

  ev_*   time-series operators on the driver's `events` table
         (rollups, gap-fill, IQR/z-score/MAD/MA detectors, latest) —
         all with exact DuckDB oracles;
  doc_*/emb_*  training-data pipeline ops on `documents`/`embeddings`
         (token counting, quality, lang-id, fingerprints, dedup,
         Jaccard pairs, cosine top-k) — oracled where the hash/regex
         semantics are engine-portable, rows-only for xxhash-based
         MinHash/SimHash/LSH;
  tok_*  the engine's own token-table path: deterministic synthetic
         tokens_raw (FIXTURES.md A1, fixed 30k rows) → salted 1m/1h
         rollups → fences/decomposition flags. The synth is pure
         integer mixing + sin, so the rollup oracles REGENERATE the
         table inside DuckDB SQL and must match exactly.
"""

from __future__ import annotations

import os
import sys
import tempfile
import zipfile
from collections.abc import Callable

_SRC = os.path.join(os.path.dirname(os.path.abspath(__file__)), "src")
if _SRC not in sys.path:
    sys.path.insert(0, _SRC)

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

# ------------------------------------------------- executor packaging
#
# The harness builds its own vanilla SparkSession, so the engine's
# PYTHONPATH fix in tstoken.session never applies and every
# applyInPandas/mapInPandas stage would die worker-side with
# `ModuleNotFoundError: No module named 'tstoken'`. Ship the package
# to executors exactly like `spark-submit --py-files`: zip src/tstoken
# once per process and sc.addPyFile it once per SparkContext (addPyFile
# works after session start and propagates to every Python worker).

_ZIP_PATH: str | None = None
_SHIPPED: set[str] = set()


def _tstoken_zip() -> str:
    global _ZIP_PATH
    if _ZIP_PATH is None or not os.path.exists(_ZIP_PATH):
        d = tempfile.mkdtemp(prefix="tstoken_pyfiles_")
        zpath = os.path.join(d, "tstoken.zip")
        pkg = os.path.join(_SRC, "tstoken")
        with zipfile.ZipFile(zpath, "w", zipfile.ZIP_DEFLATED) as z:
            for root, _dirs, files in os.walk(pkg):
                for fname in sorted(files):
                    if fname.endswith(".py"):
                        full = os.path.join(root, fname)
                        z.write(full, os.path.relpath(full, _SRC))
        _ZIP_PATH = zpath
    return _ZIP_PATH


def _ensure_shipped(spark: SparkSession) -> None:
    sc = spark.sparkContext
    key = sc.applicationId
    if key not in _SHIPPED:
        sc.addPyFile(_tstoken_zip())
        _SHIPPED.add(key)


def _shipped(fn):
    def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
        _ensure_shipped(spark)
        return fn(spark, sf_dir)
    return wrapped

TOK_ROWS = 30_000
TOK_SOURCES = 4

EN_STOP = "'the','a','and','of','to','in','is','it','that','was'"
LANG_STOP = {
    "de": "'der','die','das','und','ist','von','ein','eine','zu','den'",
    "en": EN_STOP,
    "es": "'el','la','de','que','y','en','un','una','es','los'",
    "fr": "'le','la','de','et','les','des','en','un','une','est'",
}


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _ev_rollup(spark, sf_dir, unit: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")
    return (e.groupBy(F.col("event_type").alias("source"),
                      F.date_trunc(unit, "ts").alias("bucket_ts"))
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.sum(F.col("value").cast("decimal(18,2)"))
                  .cast("double").alias("sum_value"),
                 F.min("value").alias("min_value"),
                 F.max("value").alias("max_value")))


def _ev_hourly_counts(spark, sf_dir) -> DataFrame:
    e = _t(spark, sf_dir, "events")
    return (e.groupBy(F.col("event_type").alias("source"),
                      F.date_trunc("hour", "ts").alias("bucket_ts"))
            .agg(F.count(F.lit(1)).alias("n_events")))


def _ev_gapfill(spark, sf_dir) -> DataFrame:
    hourly = _ev_hourly_counts(spark, sf_dir)
    bounds = hourly.groupBy("source").agg(
        F.min("bucket_ts").alias("lo"), F.max("bucket_ts").alias("hi"))
    spine = bounds.select(
        "source",
        F.explode(F.sequence(F.col("lo").cast("long"),
                             F.col("hi").cast("long"),
                             F.lit(3600))).alias("epoch")) \
        .select("source", F.timestamp_seconds("epoch").alias("bucket_ts"))
    j = spine.join(hourly, ["source", "bucket_ts"], "left")
    return j.select("source", "bucket_ts",
                    F.coalesce("n_events", F.lit(0)).alias("n_events"),
                    F.col("n_events").isNull().alias("gap_filled"))


def _ev_iqr(spark, sf_dir) -> DataFrame:
    from tstoken.detect import iqr_flags
    hourly = _ev_hourly_counts(spark, sf_dir)
    fl = iqr_flags(hourly, value_col="n_events")
    return (fl.join(hourly, ["source", "bucket_ts"])
            .select("source", "bucket_ts", "n_events", "is_outlier"))


def _ev_zscore(spark, sf_dir) -> DataFrame:
    from tstoken.detect import zscore_flags
    hourly = _ev_hourly_counts(spark, sf_dir)
    fl = zscore_flags(hourly, value_col="n_events")
    return (fl.join(hourly, ["source", "bucket_ts"])
            .select("source", "bucket_ts", "n_events", "is_outlier",
                    F.round("score", 4).alias("z")))


def _ev_mad(spark, sf_dir) -> DataFrame:
    from tstoken.detect import mad_flags
    hourly = _ev_hourly_counts(spark, sf_dir)
    fl = mad_flags(hourly, value_col="n_events")
    return (fl.join(hourly, ["source", "bucket_ts"])
            .select("source", "bucket_ts", "n_events", "is_outlier",
                    F.round("score", 6).alias("mscore")))


def _ev_ma7(spark, sf_dir) -> DataFrame:
    hourly = _ev_hourly_counts(spark, sf_dir)
    w = Window.partitionBy("source").orderBy("bucket_ts").rowsBetween(-6, 0)
    ma = F.when(F.count("n_events").over(w) == 7,
                F.avg("n_events").over(w))
    return hourly.select("source", "bucket_ts", "n_events",
                         F.round(ma, 6).alias("ma7"))


def _ev_latest_outlier(spark, sf_dir) -> DataFrame:
    flagged = _ev_iqr(spark, sf_dir).filter("is_outlier")
    w = Window.partitionBy("source").orderBy(F.col("bucket_ts").desc())
    return (flagged.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") == 1)
            .select("source", "bucket_ts", "n_events"))


def _ev_optimal_window(spark, sf_dir) -> DataFrame:
    from tstoken.detect import optimal_window
    hourly = _ev_hourly_counts(spark, sf_dir)
    return optimal_window(hourly, value_col="n_events") \
        .select("source", F.col("wstar").cast("long").alias("wstar"))


def _ev_exact_dedup(spark, sf_dir) -> DataFrame:
    e = _t(spark, sf_dir, "events")
    return (e.select(F.md5("props").alias("props_md5"), "event_id")
            .groupBy("props_md5")
            .agg(F.min("event_id").alias("keep_event_id"),
                 F.count(F.lit(1)).alias("n_dupes"))
            .filter(F.col("n_dupes") > 1))


def _doc_token_counts(spark, sf_dir) -> DataFrame:
    from tstoken.textops import token_count
    d = token_count(_t(spark, sf_dir, "documents"))
    return d.select("doc_id",
                    F.col("ws_tokens").cast("long").alias("ws_tokens"),
                    F.col("bpe_tokens").cast("long").alias("bpe_tokens"),
                    F.col("n_chars_calc").cast("long").alias("n_chars_calc"))


def _doc_quality(spark, sf_dir) -> DataFrame:
    from tstoken.textops import quality_score
    d = quality_score(_t(spark, sf_dir, "documents"))
    return d.select("doc_id", F.col("n_words").cast("long").alias("n_words"),
                    "mean_word_len", "punct_ratio", "stop_ratio", "quality")


def _doc_langid(spark, sf_dir) -> DataFrame:
    from tstoken.textops import detect_language
    d = detect_language(_t(spark, sf_dir, "documents"))
    return d.select("doc_id", "lang", "lang_pred",
                    F.col("stopword_hits").cast("long").alias("stopword_hits"))


def _doc_fingerprint(spark, sf_dir) -> DataFrame:
    from tstoken.textops import fingerprint
    return fingerprint(_t(spark, sf_dir, "documents")).select("doc_id", "md5")


def _doc_rolling_hash(spark, sf_dir) -> DataFrame:
    from tstoken.textops import fingerprint
    return fingerprint(_t(spark, sf_dir, "documents")) \
        .select("doc_id", "rolling_hash")


def _doc_ngram_jaccard(spark, sf_dir) -> DataFrame:
    from tstoken.textops import ngram_jaccard_pairs
    return ngram_jaccard_pairs(_t(spark, sf_dir, "documents"), threshold=0.4)


def _doc_minhash(spark, sf_dir) -> DataFrame:
    from tstoken.textops import minhash_dup_pairs
    return minhash_dup_pairs(_t(spark, sf_dir, "documents"), threshold=0.5)


def _doc_simhash(spark, sf_dir) -> DataFrame:
    from tstoken.textops import simhash_dup_pairs
    return simhash_dup_pairs(_t(spark, sf_dir, "documents"), max_hamming=8)


def _doc_minhash_md5(spark, sf_dir) -> DataFrame:
    """Exact-oracle variant of the full minhash-LSH pipeline: the same
    signature family / banding / estimate-prefilter / exact-jaccard
    code path, but with the cross-engine md5 base hash and raw
    slot-array band keys (textops.minhash_dup_pairs hash_family="md5")
    so DuckDB reproduces every stage bit-for-bit. The xxhash64
    production query above stays rows-only."""
    from tstoken.textops import minhash_dup_pairs
    return minhash_dup_pairs(_t(spark, sf_dir, "documents"),
                             threshold=0.5, hash_family="md5")


def _doc_simhash_md5(spark, sf_dir) -> DataFrame:
    """The exact-oracle variant of the simhash pipeline: identical
    vote/banding code over the cross-engine md5-derived 60-bit word
    hash (textops.simhash_md5). The DuckDB oracle computes the same
    simhashes and then EXACT all-pairs hamming — so this query
    end-to-end verifies both the simhash computation and the
    pigeonhole banding's completeness (banded result == exact result
    iff no pair within the bound is dropped)."""
    from tstoken.textops import simhash_md5, simhash_pairs_from_sigs
    return simhash_pairs_from_sigs(
        simhash_md5(_t(spark, sf_dir, "documents")), max_hamming=3)


def _emb_queries(spark, sf_dir) -> DataFrame:
    e = _t(spark, sf_dir, "embeddings")
    dbl = F.transform("embedding", lambda x: x.cast("double"))
    return e.withColumn("embedding", dbl)


def _emb_cosine_topk(spark, sf_dir) -> DataFrame:
    from tstoken.simsearch import cosine_topk
    e = _emb_queries(spark, sf_dir)
    q = e.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec"))
    r = cosine_topk(e.select("vec_id", "embedding"), q, k=5)
    return r.select("qid", "vec_id", "cosine",
                    F.col("rank").cast("long").alias("rank"))


def _doc_exact_dedup(spark, sf_dir) -> DataFrame:
    from tstoken.textops import exact_dedup
    return exact_dedup(_t(spark, sf_dir, "documents"))


def _emb_neardup(spark, sf_dir) -> DataFrame:
    # prefilter_planes=0 pins the EXACT all-pairs path: this query is
    # the DuckDB-oracle baseline. The library default is the banded
    # LSH prefilter (round-2 verdict #3) — scale callers get the
    # bucketed plan unless they opt into exactness like this.
    from tstoken.simsearch import cosine_neardup_pairs
    return cosine_neardup_pairs(_emb_queries(spark, sf_dir), threshold=0.35,
                                prefilter_planes=0)


def _emb_neardup_banded(spark, sf_dir) -> DataFrame:
    """The library-DEFAULT near-dup path: banded multi-table LSH
    prefilter (8 tables x 8 planes, seeds 42..49) -> exact cosine only
    on candidates. This is the plan that survives a 100x corpus; its
    oracle regenerates the same deterministic hyperplanes in SQL, so
    candidate generation + scoring verify end to end (the exact
    all-pairs oracle above pins recall's upper bound separately)."""
    from tstoken.simsearch import cosine_neardup_pairs
    return cosine_neardup_pairs(_emb_queries(spark, sf_dir),
                                threshold=0.35)


def _emb_neardup_sized(spark, sf_dir) -> DataFrame:
    """Round-4 target_recall path: the banded prefilter geometry is
    SIZED from the threshold (size_prefilter(0.45, 0.9) -> r=6 planes,
    T=30 tables) so recall at cosine=0.45 is bounded >= 0.9 instead of
    the fixed 8x8's near-threshold percent-level recall. Threshold
    0.45 sits just under the test corpus's max pair cosine (~0.51 at
    sf0.01) so the result is non-empty — a 0-row oracle would verify
    nothing. The oracle regenerates the same sized geometry's
    hyperplanes in SQL, so the sizing-driven candidate generation +
    exact scoring verify end to end."""
    from tstoken.simsearch import cosine_neardup_pairs
    return cosine_neardup_pairs(_emb_queries(spark, sf_dir),
                                threshold=0.45, target_recall=0.9)


def _ivf_centroids_fixed() -> list[list[float]]:
    """Deterministic random spherical centroids (seed 77, 16×64,
    unit-normalized). The contract query uses FIXED centroids instead
    of the data-trained k-means (simsearch.train_ivf_centroids) so the
    DuckDB oracle can regenerate them as SQL literals — the IVF
    structure (assign → probe → re-rank) is identical either way."""
    import numpy as np
    rng = np.random.default_rng(77)
    c = rng.standard_normal((16, 64))
    c /= np.linalg.norm(c, axis=1, keepdims=True)
    return c.tolist()


def _emb_ivf_topk(spark, sf_dir) -> DataFrame:
    from tstoken.simsearch import ivf_topk
    e = _emb_queries(spark, sf_dir)
    q = e.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec"))
    r = ivf_topk(e.select("vec_id", "embedding"), q, k=5, nprobe=4,
                 centroids=_ivf_centroids_fixed())
    return r.select("qid", "vec_id", "cosine",
                    F.col("rank").cast("long").alias("rank"))


def _emb_lsh_topk(spark, sf_dir) -> DataFrame:
    from tstoken.simsearch import lsh_topk
    e = _emb_queries(spark, sf_dir)
    q = e.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec"))
    r = lsh_topk(e.select("vec_id", "embedding"), q, dim=64, k=5)
    return r.select("qid", "vec_id", "cosine",
                    F.col("rank").cast("long").alias("rank"))


# -------------------------------------------------- token-engine queries

def _tok_raw(spark) -> DataFrame:
    from tstoken.synth import generate_tokens_raw
    return generate_tokens_raw(spark, TOK_ROWS, n_sources=TOK_SOURCES)


_T1M_STAGED: dict[tuple[str, str], str] = {}


def _tok_t1m_staged(spark, gapfilled: bool = False) -> DataFrame:
    """Materialized 1m tier (plain or gap-filled), staged to parquet
    once per (SparkContext, variant) and re-read thereafter.

    In production the tiers ARE materialized tables (the TableIO
    continuous-aggregate path); staging here makes the contract plans
    match that shape: one rollup execution, then detector passes over a
    parquet scan of bounded tier rows. The detectors themselves read
    their input once (per-source fences are window aggregates), except
    ma_flags, whose CV window search is a second reference joined back
    to the full series — over the unmaterialized synth→posexplode→
    salted-agg lineage that second reference would re-run the rollup.
    """
    from tstoken.gapfill import gap_fill
    from tstoken.rollup import rollup_1m

    variant = "gf" if gapfilled else "plain"
    key = (spark.sparkContext.applicationId, variant)
    path = _T1M_STAGED.get(key)
    if path is None or not os.path.exists(os.path.join(path, "_SUCCESS")):
        path = os.path.join(
            tempfile.gettempdir(),
            f"tstoken_t1m_{variant}_{TOK_ROWS}_{os.getpid()}")
        df = rollup_1m(_tok_raw(spark))
        if gapfilled:
            df = gap_fill(df, "1m")
        df.write.mode("overwrite").parquet(path)
        _T1M_STAGED[key] = path
    return spark.read.parquet(path)


def _tok_rollup_1m(spark, sf_dir) -> DataFrame:
    from tstoken.rollup import rollup_1m
    return rollup_1m(_tok_raw(spark)).drop("gap_filled")


def _tok_rollup_1h(spark, sf_dir) -> DataFrame:
    from tstoken.rollup import rollup_1m, rollup_cascade
    return rollup_cascade(rollup_1m(_tok_raw(spark)), "1h").drop("gap_filled")


def _tok_rollup_1d(spark, sf_dir) -> DataFrame:
    from tstoken.rollup import build_all_tiers
    return build_all_tiers(_tok_raw(spark))["1d"].drop("gap_filled")


def _tok_retention_1m(spark, sf_dir) -> DataFrame:
    from datetime import datetime, timedelta

    from tstoken.retention import filter_retained
    from tstoken.rollup import rollup_1m
    t1m = rollup_1m(_tok_raw(spark))
    return filter_retained(
        t1m, "1m", now=datetime(2024, 1, 2, 0, 0, 0),
        horizons={"1m": timedelta(hours=12)}).drop("gap_filled")


def _tok_zscore_flags(spark, sf_dir) -> DataFrame:
    from tstoken.detect import zscore_flags
    t1m = _tok_t1m_staged(spark)
    fl = zscore_flags(t1m)
    return (fl.join(t1m.select("source", "bucket_ts", "sum_n_tok"),
                    ["source", "bucket_ts"])
            .select("source", "bucket_ts", "sum_n_tok", "is_outlier",
                    F.round("score", 4).alias("z")))


def _tok_mad_flags(spark, sf_dir) -> DataFrame:
    from tstoken.detect import mad_flags
    t1m = _tok_t1m_staged(spark)
    fl = mad_flags(t1m)
    return (fl.join(t1m.select("source", "bucket_ts", "sum_n_tok"),
                    ["source", "bucket_ts"])
            .select("source", "bucket_ts", "sum_n_tok", "is_outlier",
                    F.round("score", 6).alias("mscore")))


def _tok_mad_ratio_flags(spark, sf_dir) -> DataFrame:
    """MAD fences on tokens-per-doc (sum_n_tok/n_docs) — the ratio
    cancels doc-arrival noise on sparse sources; engine-native feature
    over existing rollup columns, reference MAD semantics."""
    from tstoken.detect import mad_flags
    t1m = _tok_t1m_staged(spark).withColumn(
        "avg_n_tok", F.col("sum_n_tok").cast("double") / F.col("n_docs"))
    fl = mad_flags(t1m, value_col="avg_n_tok")
    return (fl.join(t1m.select("source", "bucket_ts",
                               F.round("avg_n_tok", 6).alias("avg_n_tok")),
                    ["source", "bucket_ts"])
            .select("source", "bucket_ts", "avg_n_tok", "is_outlier",
                    F.round("score", 6).alias("mscore")))


def _tok_extrema_flags(spark, sf_dir) -> DataFrame:
    """Engine-native extrema ensemble (detect.extrema_ensemble_flags):
    mean-ratio MAD + detrended log-min/max order-statistic fences.
    Runs over the staged (materialized) tier per the detector's
    docstring — MAD is two-pass, so an unmaterialized rollup lineage
    would be recomputed by every fence pass."""
    from tstoken.detect import extrema_ensemble_flags
    fl = extrema_ensemble_flags(_tok_t1m_staged(spark))
    return fl.select("source", "bucket_ts", "method", "is_outlier",
                     F.round("score", 4).alias("score"))


def _tok_gapfill_1m(spark, sf_dir) -> DataFrame:
    from tstoken.gapfill import gap_fill
    from tstoken.rollup import rollup_1m
    gf = gap_fill(rollup_1m(_tok_raw(spark)), "1m")
    return gf.select("source", "bucket_ts", "n_docs", "sum_n_tok", "gap_filled")


def _tok_iqr_flags(spark, sf_dir) -> DataFrame:
    from tstoken.detect import iqr_flags
    t1m = _tok_t1m_staged(spark)
    fl = iqr_flags(t1m)
    return (fl.join(t1m.select("source", "bucket_ts", "sum_n_tok"),
                    ["source", "bucket_ts"])
            .select("source", "bucket_ts", "sum_n_tok", "is_outlier"))


def _tok_grouped(method):
    def q(spark, sf_dir) -> DataFrame:
        from tstoken.detect import grouped_flags
        from tstoken.gapfill import gap_fill
        from tstoken.rollup import rollup_1m
        gf = gap_fill(rollup_1m(_tok_raw(spark)), "1m")
        fl = grouped_flags(gf, "1m", method)
        return fl.select("source", "bucket_ts", "method", "is_outlier")
    return q


def _tok_ma_flags(spark, sf_dir) -> DataFrame:
    from tstoken.detect import ma_flags
    gf = _tok_t1m_staged(spark, gapfilled=True)
    return ma_flags(gf).select("source", "bucket_ts", "method", "is_outlier")


def _tok_stationarity(spark, sf_dir) -> DataFrame:
    from tstoken.detect import stationarity_check
    from tstoken.rollup import rollup_1m
    st = stationarity_check(rollup_1m(_tok_raw(spark)))
    return st.select("source", F.round("adf_stat", 4).alias("adf_stat"),
                     "adf_stationary",
                     F.round("kpss_stat", 4).alias("kpss_stat"),
                     "kpss_stationary")


def _tok_compress(spark, sf_dir) -> DataFrame:
    from tstoken.compress import compress_tier
    from tstoken.rollup import rollup_1m
    blocks = compress_tier(rollup_1m(_tok_raw(spark)))
    return blocks.select("source", "chunk", "n_points", "codec",
                         F.length("ts_block").alias("ts_bytes"),
                         F.length("val_block").alias("val_bytes"))


def _ev_monthwise(spark, sf_dir) -> DataFrame:
    """Data half of the reference's month-wise box plot
    (diagnostics.py:237-259): per-(source, month) box statistics of
    daily event counts."""
    from tstoken.diagnostics import monthwise_box
    e = _t(spark, sf_dir, "events")
    daily = (e.groupBy(F.col("event_type").alias("source"),
                       F.date_trunc("day", "ts").alias("bucket_ts"))
             .agg(F.count(F.lit(1)).alias("n_events")))
    return monthwise_box(daily)


def _tok_decompose_1m(spark, sf_dir) -> DataFrame:
    """Decomposition-tier export (reference build_decomposition_results,
    diagnostics.py:322-388) over the 1m token rollup."""
    from tstoken.diagnostics import decompose_tier
    from tstoken.rollup import rollup_1m
    d = decompose_tier(rollup_1m(_tok_raw(spark)), "1m")
    # 4 decimals, not 6: trend/seasonal come from ~60-term float sums
    # whose engine-vs-oracle summation-order noise is ~1e-11 on values
    # ~1e4; at 1e-6 rounding granularity a boundary flip across ~13k
    # values is likely, at 1e-4 it is negligible
    return d.select("source", "bucket_ts",
                    F.round("observed", 4).alias("observed"),
                    F.round("seasonal", 4).alias("seasonal"),
                    F.round("trend", 4).alias("trend"),
                    F.round("resid", 4).alias("resid"), "model")


def _media_features(spark, sf_dir) -> DataFrame:
    from tstoken.multimodal import extract_features, synth_media
    feats = extract_features(synth_media(spark, 200))
    return feats.select("media_id", "kind", "n_bytes", "decoded",
                        F.round(F.element_at("feature", 1), 6).alias("f0"))


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: hourly rollup of events + gap-fill + IQR flags at sf0.001."""
    sf_dir = "/root/testdata/sf0.001"
    _ensure_shipped(spark)
    from tstoken.detect import iqr_flags
    gf = _ev_gapfill(spark, sf_dir)
    fl = iqr_flags(gf, value_col="n_events")
    return (fl.join(gf, ["source", "bucket_ts"])
            .select("source", "bucket_ts", "n_events", "gap_filled",
                    "is_outlier"))


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    q = {
        "ev_rollup_1m": lambda s, d: _ev_rollup(s, d, "minute"),
        "ev_rollup_1h": lambda s, d: _ev_rollup(s, d, "hour"),
        "ev_rollup_1d": lambda s, d: _ev_rollup(s, d, "day"),
        "ev_gapfill_1h": _ev_gapfill,
        "ev_iqr_flags_1h": _ev_iqr,
        "ev_zscore_flags_1h": _ev_zscore,
        "ev_mad_flags_1h": _ev_mad,
        "ev_ma7_1h": _ev_ma7,
        "ev_latest_outlier": _ev_latest_outlier,
        "ev_optimal_window": _ev_optimal_window,
        "ev_exact_dedup": _ev_exact_dedup,
        "doc_exact_dedup": _doc_exact_dedup,
        "emb_neardup_pairs": _emb_neardup,
        "emb_neardup_banded": _emb_neardup_banded,
        "emb_neardup_sized": _emb_neardup_sized,
        "doc_token_counts": _doc_token_counts,
        "doc_quality": _doc_quality,
        "doc_langid": _doc_langid,
        "doc_fingerprint": _doc_fingerprint,
        "doc_rolling_hash": _doc_rolling_hash,
        "doc_ngram_jaccard": _doc_ngram_jaccard,
        "doc_minhash_pairs": _doc_minhash,
        "doc_simhash_pairs": _doc_simhash,
        "doc_simhash_md5_pairs": _doc_simhash_md5,
        "doc_minhash_md5_pairs": _doc_minhash_md5,
        "emb_cosine_topk": _emb_cosine_topk,
        "emb_lsh_topk": _emb_lsh_topk,
        "emb_ivf_topk": _emb_ivf_topk,
        "tok_rollup_1m": _tok_rollup_1m,
        "tok_rollup_1h": _tok_rollup_1h,
        "tok_rollup_1d": _tok_rollup_1d,
        "tok_retention_1m": _tok_retention_1m,
        "tok_zscore_flags": _tok_zscore_flags,
        "tok_mad_flags": _tok_mad_flags,
        "tok_mad_ratio_flags": _tok_mad_ratio_flags,
        "tok_extrema_flags": _tok_extrema_flags,
        "tok_gapfill_1m": _tok_gapfill_1m,
        "tok_iqr_flags": _tok_iqr_flags,
        "tok_stl_flags": _tok_grouped("stl"),
        "tok_classic_flags": _tok_grouped("classic"),
        "tok_mstl_flags": _tok_grouped("mstl"),
        "tok_esd_flags": _tok_grouped("esd"),
        "tok_ma_flags": _tok_ma_flags,
        "ev_monthwise": _ev_monthwise,
        "tok_decompose_1m": _tok_decompose_1m,
        "tok_stationarity": _tok_stationarity,
        "tok_compress_blocks": _tok_compress,
        "media_features": _media_features,
    }
    return {name: _shipped(fn) for name, fn in q.items()}


# ------------------------------------------------------------- oracles

def _tok_cte() -> str:
    """DuckDB CTE regenerating the synthetic token table's scalar
    columns (doc-level) — exact integer mixing per tstoken.synth.

    Every sum() is cast ::BIGINT: DuckDB sum(BIGINT) returns HUGEINT,
    which pandas widens to float64 while Spark stays int64 — the
    driver's value hash is dtype-sensitive (round-1 verdict #2)."""
    from tstoken.synth import rows_per_source
    counts = rows_per_source(TOK_ROWS, TOK_SOURCES)
    vals = ", ".join(
        f"({i}, {n}, {3 + (i * 7) % 43})" for i, n in enumerate(counts))
    return f"""
params(src_idx, n_rows, step) AS (VALUES {vals}),
seqs AS (
  SELECT p.src_idx, p.step, u.seq
  FROM params p, unnest(generate_series(0, p.n_rows - 1)) u(seq)
),
mixed AS (
  SELECT src_idx, step, seq,
    (seq * step) // 60 AS minute,
    (seq * 1103515245 + src_idx * 2654435761 + 12345) % 2147483648 AS h1,
    (((seq * step) // 60) * 2654435761 + src_idx * 97) % 2147483648 AS h2,
    (((seq * step) // 60) * 48271 + src_idx * 131) % 2147483648 AS h3
  FROM seqs
),
docs_tok AS (
  SELECT src_idx, seq, minute,
    GREATEST(1, floor(
      (64 + h1 % 1985)::DOUBLE
      * (1.0 + 0.3 * sin(2 * pi() * (minute % 1440) / 1440.0)
             + 0.1 * sin(2 * pi() * (minute % 60) / 60.0))
      * (CASE WHEN h2 % 200 = 0 AND h2 % 400 = 0 THEN 8.0
              WHEN h2 % 200 = 0 THEN 0.125 ELSE 1.0 END)))::INT AS n_tok
  FROM mixed
  WHERE NOT (h3 % 100 = 0 AND h2 % 200 <> 0)
),
tok1m AS (
  SELECT printf('src-%03d', src_idx) AS source,
    TIMESTAMP '2024-01-01 00:00:00' + (minute * 60) * INTERVAL 1 SECOND
      AS bucket_ts,
    count(*) AS n_docs,
    sum(n_tok::BIGINT)::BIGINT AS sum_n_tok,
    min(n_tok) AS min_n_tok,
    max(n_tok) AS max_n_tok,
    sum((SELECT sum(((1000003 * (seq * 131 + u.i) + 17) % 50257)
               * ((1000003 * (seq * 131 + u.i) + 17) % 50257))
         FROM unnest(generate_series(0, n_tok - 1)) u(i)))::BIGINT AS sum_tok_sq
  FROM docs_tok GROUP BY 1, 2
)"""


def _words_sql(col: str = "text") -> str:
    return (f"list_filter(regexp_split_to_array(lower({col}), "
            f"'[^a-z0-9]+'), x -> x <> '')")


def oracle_sql() -> dict[str, str]:
    ev_rollup = """
SELECT event_type AS source, date_trunc('{unit}', ts) AS bucket_ts,
  count(*) AS n_events,
  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
  min(value) AS min_value, max(value) AS max_value
FROM events GROUP BY 1, 2"""

    hourly = ("SELECT event_type AS source, date_trunc('hour', ts) AS "
              "bucket_ts, count(*) AS n_events FROM events GROUP BY 1, 2")

    gapfill = f"""
WITH hourly AS ({hourly}),
b AS (SELECT source, min(bucket_ts) lo, max(bucket_ts) hi FROM hourly GROUP BY 1),
spine AS (SELECT b.source, u.bucket_ts
          FROM b, unnest(generate_series(b.lo, b.hi, INTERVAL 1 HOUR)) u(bucket_ts))
SELECT s.source, s.bucket_ts, coalesce(h.n_events, 0) AS n_events,
       h.n_events IS NULL AS gap_filled
FROM spine s LEFT JOIN hourly h ON s.source = h.source AND s.bucket_ts = h.bucket_ts"""

    iqr = f"""
WITH hourly AS ({hourly}),
f AS (SELECT source, quantile_cont(n_events, 0.25) q1,
             quantile_cont(n_events, 0.75) q3 FROM hourly GROUP BY 1)
SELECT h.source, h.bucket_ts, h.n_events,
  (h.n_events < f.q1 - 1.5 * (f.q3 - f.q1)
   OR h.n_events > f.q3 + 1.5 * (f.q3 - f.q1)) AS is_outlier
FROM hourly h JOIN f ON h.source = f.source"""

    zscore = f"""
WITH hourly AS ({hourly}),
s AS (SELECT source, avg(n_events) mu, stddev_pop(n_events) sd
      FROM hourly GROUP BY 1)
SELECT h.source, h.bucket_ts, h.n_events,
  CASE WHEN s.sd > 0 THEN abs((h.n_events - s.mu) / s.sd) > 2.0
       ELSE FALSE END AS is_outlier,
  round(CASE WHEN s.sd > 0 THEN abs((h.n_events - s.mu) / s.sd)
        ELSE 0.0 END, 4) AS z
FROM hourly h JOIN s ON h.source = s.source"""

    mad = f"""
WITH hourly AS ({hourly}),
m AS (SELECT source, quantile_cont(n_events, 0.5) med FROM hourly GROUP BY 1),
d AS (SELECT h.source, h.bucket_ts, h.n_events,
             abs(h.n_events - m.med) AS absdev
      FROM hourly h JOIN m ON h.source = m.source),
md AS (SELECT source, quantile_cont(absdev, 0.5) mad FROM d GROUP BY 1)
SELECT d.source, d.bucket_ts, d.n_events,
  (CASE WHEN md.mad > 0 THEN 0.6745 * d.absdev / md.mad
        WHEN d.absdev > 0 THEN 1e308 ELSE 0.0 END) > 3.5 AS is_outlier,
  round(CASE WHEN md.mad > 0 THEN 0.6745 * d.absdev / md.mad
        WHEN d.absdev > 0 THEN 1e308 ELSE 0.0 END, 6) AS mscore
FROM d JOIN md ON d.source = md.source"""

    ma7 = f"""
WITH hourly AS ({hourly})
SELECT source, bucket_ts, n_events,
  round(CASE WHEN count(*) OVER w = 7 THEN avg(n_events) OVER w END, 6) AS ma7
FROM hourly
WINDOW w AS (PARTITION BY source ORDER BY bucket_ts
             ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)"""

    latest = f"""
WITH flagged AS (
  {iqr.replace('SELECT h.source', 'SELECT h.source', 1)}
)
SELECT source, bucket_ts, n_events FROM (
  SELECT source, bucket_ts, n_events,
    row_number() OVER (PARTITION BY source ORDER BY bucket_ts DESC) rk
  FROM flagged WHERE is_outlier)
WHERE rk = 1"""

    optwin = f"""
WITH base AS (SELECT event_type AS source, date_trunc('hour', ts) AS bucket_ts,
                     count(*)::DOUBLE AS v FROM events GROUP BY 1, 2),
idx AS (SELECT source, v,
          (row_number() OVER (PARTITION BY source ORDER BY bucket_ts) - 1) AS idx,
          count(*) OVER (PARTITION BY source) AS n
        FROM base),
folds AS (SELECT source, v, idx, (n // 6) AS tsz, (n - 5 * (n // 6)) AS strt
          FROM idx),
test AS (SELECT source, v, ((idx - strt) // tsz) AS fold,
           row_number() OVER (PARTITION BY source, ((idx - strt) // tsz)
                              ORDER BY idx) - 1 AS pos
         FROM folds WHERE tsz >= 1 AND idx >= strt),
ws AS (SELECT unnest(generate_series(2, 20)) AS w),
ma AS (SELECT a.source, a.fold, w.w, a.pos, a.v,
              avg(b.v) AS mav, count(*) AS cnt
       FROM ws w CROSS JOIN test a JOIN test b
         ON a.source = b.source AND a.fold = b.fold
        AND b.pos BETWEEN a.pos - (w.w - 1) AND a.pos
       GROUP BY 1, 2, 3, 4, 5),
rmse AS (SELECT source, w, fold, sqrt(avg((v - mav) * (v - mav))) AS r
         FROM ma WHERE cnt = w GROUP BY 1, 2, 3),
meanr AS (SELECT source, w, avg(r) AS mr FROM rmse GROUP BY 1, 2)
SELECT source, w AS wstar FROM (
  SELECT source, w,
    row_number() OVER (PARTITION BY source ORDER BY mr ASC, w ASC) rk
  FROM meanr) WHERE rk = 1"""

    dedup = """
SELECT md5(props) AS props_md5, min(event_id) AS keep_event_id,
       count(*) AS n_dupes
FROM events GROUP BY 1 HAVING count(*) > 1"""

    tokc = r"""
SELECT doc_id,
  CASE WHEN length(trim(text)) = 0 THEN 0
       ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS ws_tokens,
  len(regexp_extract_all(text, '[A-Za-z0-9]+|[^A-Za-z0-9\s]')) AS bpe_tokens,
  length(text) AS n_chars_calc
FROM documents"""

    wexpr = _words_sql()
    punct = "'[.,;:!?''\"()\\[\\]{}-]'"
    quality = f"""
WITH w AS (SELECT doc_id, text, {wexpr} AS words FROM documents),
feat AS (SELECT doc_id,
  len(words) AS n_words,
  CASE WHEN len(words) > 0 THEN
    length(regexp_replace(text, '[^A-Za-z0-9]', '', 'g'))::DOUBLE / len(words)
    ELSE 0.0 END AS mwl,
  CASE WHEN length(text) > 0 THEN
    len(regexp_extract_all(text, {punct}))::DOUBLE / length(text)
    ELSE 0.0 END AS pr,
  CASE WHEN len(words) > 0 THEN
    len(list_filter(words, x -> list_contains([{EN_STOP}], x)))::DOUBLE
      / len(words)
    ELSE 0.0 END AS sr
 FROM w)
SELECT doc_id, n_words, round(mwl, 4) AS mean_word_len,
  round(pr, 4) AS punct_ratio, round(sr, 4) AS stop_ratio,
  round(least(n_words / 100.0, 1.0) * 0.4 + least(sr * 5.0, 1.0) * 0.4
        + (1.0 - least(pr * 10.0, 1.0)) * 0.2, 4) AS quality
FROM feat"""

    hit_exprs = ",\n  ".join(
        f"len(list_filter(words, x -> list_contains([{LANG_STOP[lang]}], x)))"
        f" AS h_{lang}" for lang in sorted(LANG_STOP))
    langid = f"""
WITH w AS (SELECT doc_id, lang, {wexpr} AS words FROM documents),
h AS (SELECT doc_id, lang,
  {hit_exprs}
 FROM w)
SELECT doc_id, lang,
  CASE WHEN greatest(h_de, h_en, h_es, h_fr) = 0 THEN 'und'
       WHEN h_fr = greatest(h_de, h_en, h_es, h_fr) THEN 'fr'
       WHEN h_es = greatest(h_de, h_en, h_es, h_fr) THEN 'es'
       WHEN h_en = greatest(h_de, h_en, h_es, h_fr) THEN 'en'
       ELSE 'de' END AS lang_pred,
  greatest(h_de, h_en, h_es, h_fr) AS stopword_hits
FROM h"""

    fp = "SELECT doc_id, md5(text) AS md5 FROM documents"

    # simhash over the cross-engine md5-derived 60-bit word hash
    # (textops.simhash_md5). The oracle computes the same per-doc
    # simhash (votes over bits, tie -> 0) and then EXACT all-pairs
    # hamming — the engine's banded path must return the identical
    # pair set or its pigeonhole blocking dropped a pair. Zero-word
    # docs keep simhash 0 via the LEFT JOIN (engine: explode_outer).
    simhash_md5 = f"""
WITH w AS (SELECT doc_id, unnest({_words_sql()}) AS word FROM documents),
h AS (SELECT doc_id, ('0x' || substr(md5(word), 1, 15))::UBIGINT AS h
      FROM w),
votes AS (
  SELECT doc_id, t.i AS i,
         sum(CASE WHEN (h >> t.i) & 1 = 1 THEN 1 ELSE -1 END) AS v
  FROM h CROSS JOIN range(60) t(i)
  GROUP BY doc_id, t.i),
sims0 AS (
  SELECT doc_id,
         sum(CASE WHEN v > 0 THEN (1::UBIGINT << i)
             ELSE 0::UBIGINT END)::UBIGINT AS sim
  FROM votes GROUP BY doc_id),
sims AS (SELECT d.doc_id, coalesce(s.sim, 0::UBIGINT) AS sim
         FROM documents d LEFT JOIN sims0 s ON d.doc_id = s.doc_id)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       bit_count(xor(a.sim, b.sim))::INTEGER AS hamming
FROM sims a JOIN sims b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.sim, b.sim)) <= 3"""

    # full minhash-LSH pipeline over the md5 base hash
    # (textops.minhash_dup_pairs hash_family="md5"): 5-char shingles,
    # 63 universal-hash min-slots over h = md5_60bit % (2^31-1),
    # b=21/r=3 banding on the raw slot triple, signature-agreement
    # prefilter (>= 0.7*threshold), exact shingle-set jaccard verify.
    # Every stage is integer/set arithmetic both engines share.
    minhash_md5 = """
WITH d AS (SELECT doc_id, lower(text) AS t FROM documents),
pos AS (SELECT doc_id, t,
               unnest(range(1, greatest(length(t) - 4, 1) + 1)) AS i
        FROM d),
sh AS (SELECT doc_id, substr(t, i, 5) AS s FROM pos),
h AS (SELECT DISTINCT doc_id,
             ((('0x' || substr(md5(s), 1, 15))::UBIGINT
               % 2147483647)::BIGINT) AS h
      FROM sh),
-- per-doc distinct-hash lists, then each of the 63 min-slots as a
-- list fold: min over a universal hash is duplicate-insensitive, so
-- this equals the row-expanded min(...(2j+1+104729)h+b_j...) GROUP BY
-- (doc_id, j) formulation exactly — without materializing the
-- |shingles| x 63 row expansion (~10^9 rows at the 50k-doc gate,
-- which exhausted an 80 GB spill disk; round-5)
hl AS (SELECT doc_id, list(h) AS hs FROM h GROUP BY doc_id),
sigs AS (
  SELECT doc_id,
         list_transform(range(63), j ->
           list_min(list_transform(hs, x ->
             ((2 * j + 1 + 104729) * x
              + ((j * 7919 + 13) % 2147483647)) % 2147483647))) AS sig
  FROM hl),
bandrows AS (
  SELECT doc_id, b.b AS band,
         [sig[3 * b.b + 1], sig[3 * b.b + 2], sig[3 * b.b + 3]] AS key
  FROM sigs CROSS JOIN range(21) b(b)),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bandrows a JOIN bandrows b
    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id),
surv AS (
  -- agreement as a pure list expression, NOT a correlated subquery:
  -- DuckDB executes a per-row subquery over range(63) as a lateral
  -- unnest — |candidates| x 63 rows, ~10^10 at the 50k-doc gate's
  -- 154M dense-corpus candidates (64 GB of spill before the disk
  -- filled; round-5). The list form streams row-at-a-time.
  SELECT c.doc_a, c.doc_b
  FROM cand c JOIN sigs sa ON sa.doc_id = c.doc_a
              JOIN sigs sb ON sb.doc_id = c.doc_b
  WHERE list_sum(list_transform(range(63), k ->
          CASE WHEN sa.sig[k + 1] = sb.sig[k + 1]
               THEN 1 ELSE 0 END)) / 63.0 >= 0.35),
wsets AS (SELECT doc_id, list(DISTINCT s) AS ss FROM sh GROUP BY doc_id),
v AS (
  SELECT s.doc_a, s.doc_b,
         len(list_intersect(wa.ss, wb.ss))::DOUBLE AS inter,
         (len(wa.ss) + len(wb.ss))::DOUBLE AS tot
  FROM surv s JOIN wsets wa ON wa.doc_id = s.doc_a
              JOIN wsets wb ON wb.doc_id = s.doc_b),
scored AS (
  SELECT doc_a, doc_b,
         round(CASE WHEN tot - inter > 0 THEN inter / (tot - inter)
               ELSE 0.0 END, 6) AS jaccard
  FROM v)
SELECT doc_a, doc_b, jaccard FROM scored WHERE jaccard >= 0.5"""

    # Karp-Rabin rolling hash (textops.fingerprint): h = fold over words
    # of h*B + word_val (mod 2^31-1), word_val = fold over chars of
    # acc*131 + codepoint (same modulus). Pure integer arithmetic, so
    # DuckDB list_reduce reproduces it exactly; list_prepend(0, ...)
    # supplies the fold's zero init (DuckDB list_reduce seeds from the
    # first element).
    rolling = f"""
WITH w AS (SELECT doc_id, {_words_sql()} AS words FROM documents)
SELECT doc_id,
  list_reduce(
    list_prepend(0::BIGINT,
      list_transform(words, w ->
        list_reduce(
          list_prepend(0::BIGINT,
            list_transform(generate_series(1, length(w)),
                           i -> ascii(substring(w, i, 1))::BIGINT)),
          (acc, c) -> (acc * 131 + c) % 2147483647))),
    (acc, wv) -> (acc * 1000003 + wv) % 2147483647) AS rolling_hash
FROM w"""

    # two offset band grids (cell 16, second grid shifted 8) — a pair
    # is compared iff it shares a cell in EITHER grid, mirroring
    # textops.ngram_jaccard_pairs' boundary-straddle fix
    jaccard = f"""
WITH base AS (SELECT doc_id, source,
                     (length(text) // 16) AS lb0,
                     ((length(text) + 8) // 16) AS lb1,
                     list_distinct({wexpr}) AS wset
              FROM documents),
pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
    len(list_intersect(a.wset, b.wset))::DOUBLE AS inter,
    (len(a.wset) + len(b.wset))::DOUBLE AS tot
  FROM base a JOIN base b
    ON a.source = b.source AND (a.lb0 = b.lb0 OR a.lb1 = b.lb1)
   AND a.doc_id < b.doc_id)
SELECT doc_a, doc_b, jaccard FROM (
  SELECT doc_a, doc_b,
    round(CASE WHEN tot - inter > 0 THEN inter / (tot - inter)
          ELSE 0.0 END, 6) AS jaccard
  FROM pairs) WHERE jaccard >= 0.4"""

    cosine = """
WITH q AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS qvec
           FROM embeddings WHERE vec_id < 20),
s AS (SELECT q.qid, e.vec_id,
        round(list_cosine_similarity(e.embedding::DOUBLE[], q.qvec), 6)
          AS cosine
      FROM embeddings e, q WHERE e.vec_id <> q.qid)
SELECT qid, vec_id, cosine, rank FROM (
  SELECT qid, vec_id, cosine,
    row_number() OVER (PARTITION BY qid
                       ORDER BY cosine DESC, vec_id ASC) AS rank
  FROM s) WHERE rank <= 5"""

    doc_dedup = """
SELECT md5(text) AS text_md5, min(doc_id) AS keep_doc_id,
       count(*) AS n_dupes
FROM documents GROUP BY 1 HAVING count(*) > 1"""

    neardup = """
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        round(list_cosine_similarity(a.v, b.v), 6) AS cosine
      FROM e a JOIN e b ON a.vec_id < b.vec_id)
SELECT id_a, id_b, cosine FROM p WHERE cosine >= 0.35"""

    # LSH top-k oracle: regenerate the SAME deterministic hyperplanes
    # (numpy default_rng seeds 42..49) as SQL literals; signature =
    # sum(2^i * [dot > 0]); candidates share any table's signature;
    # exact cosine re-rank of candidates. NOTE the hyperplane constants
    # themselves are shared with the implementation (not independently
    # verified — a bug inside _hyperplanes would pass); the oracle
    # independently checks candidate generation + re-ranking. Guard the
    # shared geometry (8 tables × 8 planes, seeds 42..49, dim 64)
    # against silent default drift in lsh_topk:
    import inspect

    from tstoken import simsearch
    from tstoken.simsearch import _hyperplanes
    _lsh_defaults = inspect.signature(simsearch.lsh_topk).parameters
    assert _lsh_defaults["n_planes"].default == 8, "lsh_topk n_planes drifted"
    assert _lsh_defaults["n_tables"].default == 8, "lsh_topk n_tables drifted"
    _nd_defaults = inspect.signature(
        simsearch.cosine_neardup_pairs).parameters
    assert _nd_defaults["prefilter_planes"].default == 8, \
        "cosine_neardup_pairs prefilter_planes drifted"
    assert _nd_defaults["prefilter_tables"].default == 8, \
        "cosine_neardup_pairs prefilter_tables drifted"
    def _sig_cols_sql(n_planes: int, n_tables: int, prefix: str) -> str:
        """Hyperplane signature columns as DuckDB SQL — one column per
        table, seeds 42..42+T-1, bit i = sign of dot with plane i;
        mirrors simsearch._multi_table_sigs exactly. Shared by the
        LSH, banded and sized oracles so the SQL shape can never
        desynchronize between them."""
        cols = []
        for t in range(n_tables):
            planes = _hyperplanes(64, n_planes, seed=42 + t)
            bits = " + ".join(
                f"(CASE WHEN list_dot_product(v, "
                f"[{', '.join(repr(x) for x in p)}]::DOUBLE[]) > 0 "
                f"THEN {1 << i} ELSE 0 END)"
                for i, p in enumerate(planes))
            cols.append(f"({bits}) AS {prefix}{t}")
        return ",\n    ".join(cols)

    sig_cols = _sig_cols_sql(8, 8, "sig")
    sig_match = " OR ".join(f"e.sig{t} = q.sig{t}" for t in range(8))
    lsh = f"""
WITH ev AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
sigs AS (SELECT vec_id, v,
    {sig_cols}
  FROM ev),
q AS (SELECT * FROM sigs WHERE vec_id < 20),
cand AS (SELECT DISTINCT q.vec_id AS qid, e.vec_id, q.v AS qv, e.v AS ev
         FROM sigs e JOIN q ON ({sig_match})
         WHERE e.vec_id <> q.vec_id),
scored AS (SELECT qid, vec_id,
    round(list_cosine_similarity(ev, qv), 6) AS cosine FROM cand)
SELECT qid, vec_id, cosine, rank FROM (
  SELECT qid, vec_id, cosine,
    row_number() OVER (PARTITION BY qid
                       ORDER BY cosine DESC, vec_id ASC) AS rank
  FROM scored) WHERE rank <= 5"""

    # banded near-dup oracle: same hyperplane literals as the LSH
    # oracle (seeds 42..49); a pair is a candidate iff it agrees on
    # any table's full signature, then exact cosine >= t
    sig_match_ab = " OR ".join(f"a.sig{t} = b.sig{t}" for t in range(8))
    neardup_banded = f"""
WITH ev AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
sigs AS (SELECT vec_id, v,
    {sig_cols}
  FROM ev),
p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        round(list_cosine_similarity(a.v, b.v), 6) AS cosine
      FROM sigs a JOIN sigs b
        ON a.vec_id < b.vec_id AND ({sig_match_ab}))
SELECT id_a, id_b, cosine FROM p WHERE cosine >= 0.35"""

    # sized near-dup oracle (round 4): regenerate the geometry
    # size_prefilter derives from (threshold 0.45, target_recall 0.9)
    # — r planes per table, T tables, seeds 42..42+T-1 — as SQL
    # literals; pin it so a sizing change fails loudly instead of
    # silently diverging from the oracle
    from tstoken.simsearch import size_prefilter
    _szr, _szt, _, _ = size_prefilter(0.45, 0.9)
    assert (_szr, _szt) == (6, 30), \
        f"size_prefilter(0.45, 0.9) geometry drifted: {(_szr, _szt)}"
    zsig_cols = _sig_cols_sql(_szr, _szt, "zsig")
    zmatch = " OR ".join(f"a.zsig{t} = b.zsig{t}" for t in range(_szt))
    neardup_sized = f"""
WITH ev AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
sigs AS (SELECT vec_id, v,
    {zsig_cols}
  FROM ev),
p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        round(list_cosine_similarity(a.v, b.v), 6) AS cosine
      FROM sigs a JOIN sigs b
        ON a.vec_id < b.vec_id AND ({zmatch}))
SELECT id_a, id_b, cosine FROM p WHERE cosine >= 0.45"""

    monthwise = """
WITH daily AS (SELECT event_type AS source, date_trunc('day', ts) AS bucket_ts,
                      count(*) AS n_events FROM events GROUP BY 1, 2),
v AS (SELECT source, date_trunc('month', bucket_ts) AS month,
             n_events::DOUBLE AS v FROM daily),
s AS (SELECT source, month, count(*) AS n, min(v) AS vmin, max(v) AS vmax,
        quantile_cont(v, 0.25) AS q1, quantile_cont(v, 0.5) AS median,
        quantile_cont(v, 0.75) AS q3
      FROM v GROUP BY 1, 2),
w AS (SELECT v.source, v.month,
        min(CASE WHEN v.v >= s.q1 - 1.5 * (s.q3 - s.q1) THEN v.v END)
          AS whisker_lo,
        max(CASE WHEN v.v <= s.q3 + 1.5 * (s.q3 - s.q1) THEN v.v END)
          AS whisker_hi,
        sum(CASE WHEN v.v < s.q1 - 1.5 * (s.q3 - s.q1)
                  OR v.v > s.q3 + 1.5 * (s.q3 - s.q1)
                 THEN 1 ELSE 0 END)::BIGINT AS n_fliers
      FROM v JOIN s ON v.source = s.source AND v.month = s.month
      GROUP BY 1, 2)
SELECT s.source, s.month, s.n, s.vmin, s.vmax, s.q1, s.median, s.q3,
       w.whisker_lo, w.whisker_hi, w.n_fliers
FROM s JOIN w ON s.source = w.source AND s.month = w.month"""

    # IVF top-k oracle: regenerate the fixed spherical centroids (seed
    # 77) as SQL literals; assignment = argmax cosine-with-centroid,
    # probe = top-nprobe centroids per query, exact re-rank inside the
    # probed clusters. (Mirrors the LSH oracle's shared-constants
    # caveat: centroid literals come from the same generator as the
    # query; assignment/probe/re-rank are checked independently.)
    ivf_cents = _ivf_centroids_fixed()
    sim_exprs = ", ".join(
        f"list_dot_product(v, [{', '.join(repr(x) for x in c)}]::DOUBLE[])"
        f" / sqrt(list_dot_product(v, v))" for c in ivf_cents)
    ivf = f"""
WITH ev AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
sims AS (SELECT vec_id, v, [{sim_exprs}] AS s FROM ev),
assign AS (SELECT vec_id, v,
             list_position(s, list_max(s)) - 1 AS ivf_cluster FROM sims),
q AS (SELECT vec_id AS qid, v AS qv, s FROM sims WHERE vec_id < 20),
probe AS (SELECT qid, qv, cid FROM (
    SELECT q.qid, q.qv, u.i - 1 AS cid,
      row_number() OVER (PARTITION BY q.qid
                         ORDER BY q.s[u.i] DESC, u.i ASC) AS rk
    FROM q, unnest(generate_series(1, len(q.s))) u(i))
  WHERE rk <= 4),
cand AS (SELECT p.qid, p.qv, a.vec_id, a.v
         FROM assign a JOIN probe p ON a.ivf_cluster = p.cid
         WHERE a.vec_id <> p.qid),
scored AS (SELECT qid, vec_id,
             round(list_cosine_similarity(v, qv), 6) AS cosine FROM cand)
SELECT qid, vec_id, cosine, rank FROM (
  SELECT qid, vec_id, cosine,
    row_number() OVER (PARTITION BY qid
                       ORDER BY cosine DESC, vec_id ASC) AS rank
  FROM scored) WHERE rank <= 5"""

    tok_cte = _tok_cte()
    tok_1m = f"WITH {tok_cte}\nSELECT * FROM tok1m"
    tok_1d = f"""WITH {tok_cte}
SELECT source, date_trunc('day', bucket_ts) AS bucket_ts,
  sum(n_docs)::BIGINT AS n_docs, sum(sum_n_tok)::BIGINT AS sum_n_tok,
  min(min_n_tok) AS min_n_tok, max(max_n_tok) AS max_n_tok,
  sum(sum_tok_sq)::BIGINT AS sum_tok_sq
FROM tok1m GROUP BY 1, 2"""
    tok_retention = f"""WITH {tok_cte}
SELECT * FROM tok1m WHERE bucket_ts >= TIMESTAMP '2024-01-01 12:00:00'"""
    tok_zscore = f"""WITH {tok_cte},
s AS (SELECT source, avg(sum_n_tok) mu, stddev_pop(sum_n_tok) sd
      FROM tok1m GROUP BY 1)
SELECT t.source, t.bucket_ts, t.sum_n_tok,
  CASE WHEN s.sd > 0 THEN abs((t.sum_n_tok - s.mu) / s.sd) > 2.0
       ELSE FALSE END AS is_outlier,
  round(CASE WHEN s.sd > 0 THEN abs((t.sum_n_tok - s.mu) / s.sd)
        ELSE 0.0 END, 4) AS z
FROM tok1m t JOIN s ON t.source = s.source"""
    tok_mad_ratio = f"""WITH {tok_cte},
r AS (SELECT source, bucket_ts,
        sum_n_tok::DOUBLE / n_docs AS avg_n_tok FROM tok1m),
m AS (SELECT source, quantile_cont(avg_n_tok, 0.5) med FROM r GROUP BY 1),
d AS (SELECT r.source, r.bucket_ts, r.avg_n_tok,
             abs(r.avg_n_tok - m.med) AS absdev
      FROM r JOIN m ON r.source = m.source),
md AS (SELECT source, quantile_cont(absdev, 0.5) mad FROM d GROUP BY 1)
SELECT d.source, d.bucket_ts, round(d.avg_n_tok, 6) AS avg_n_tok,
  (CASE WHEN md.mad > 0 THEN 0.6745 * d.absdev / md.mad
        WHEN d.absdev > 0 THEN 1e308 ELSE 0.0 END) > 3.5 AS is_outlier,
  round(CASE WHEN md.mad > 0 THEN 0.6745 * d.absdev / md.mad
        WHEN d.absdev > 0 THEN 1e308 ELSE 0.0 END, 6) AS mscore
FROM d JOIN md ON d.source = md.source"""
    tok_mad = f"""WITH {tok_cte},
m AS (SELECT source, quantile_cont(sum_n_tok, 0.5) med FROM tok1m GROUP BY 1),
d AS (SELECT t.source, t.bucket_ts, t.sum_n_tok,
             abs(t.sum_n_tok - m.med) AS absdev
      FROM tok1m t JOIN m ON t.source = m.source),
md AS (SELECT source, quantile_cont(absdev, 0.5) mad FROM d GROUP BY 1)
SELECT d.source, d.bucket_ts, d.sum_n_tok,
  (CASE WHEN md.mad > 0 THEN 0.6745 * d.absdev / md.mad
        WHEN d.absdev > 0 THEN 1e308 ELSE 0.0 END) > 3.5 AS is_outlier,
  round(CASE WHEN md.mad > 0 THEN 0.6745 * d.absdev / md.mad
        WHEN d.absdev > 0 THEN 1e308 ELSE 0.0 END, 6) AS mscore
FROM d JOIN md ON d.source = md.source"""
    tok_1h = f"""WITH {tok_cte}
SELECT source, date_trunc('hour', bucket_ts) AS bucket_ts,
  sum(n_docs)::BIGINT AS n_docs, sum(sum_n_tok)::BIGINT AS sum_n_tok,
  min(min_n_tok) AS min_n_tok, max(max_n_tok) AS max_n_tok,
  sum(sum_tok_sq)::BIGINT AS sum_tok_sq
FROM tok1m GROUP BY 1, 2"""
    tok_gap = f"""WITH {tok_cte},
b AS (SELECT source, min(bucket_ts) lo, max(bucket_ts) hi FROM tok1m GROUP BY 1),
spine AS (SELECT b.source, u.bucket_ts
          FROM b, unnest(generate_series(b.lo, b.hi, INTERVAL 1 MINUTE)) u(bucket_ts))
SELECT s.source, s.bucket_ts, coalesce(t.n_docs, 0)::BIGINT AS n_docs,
  coalesce(t.sum_n_tok, 0)::BIGINT AS sum_n_tok,
  t.n_docs IS NULL AS gap_filled
FROM spine s LEFT JOIN tok1m t
  ON s.source = t.source AND s.bucket_ts = t.bucket_ts"""
    # extrema ensemble (detect.extrema_ensemble_flags over the 1m
    # tier): three MAD fences — mean ratio, detrended log-min (spike
    # side), detrended log-max (dip side, negative only, deep
    # threshold) — OR-ed; score = greatest modified-z.
    def _mad_cte(tag: str, col: str) -> str:
        return f"""
m_{tag} AS (SELECT source, quantile_cont({col}, 0.5) AS med
            FROM det GROUP BY 1),
d_{tag} AS (SELECT det.source, det.bucket_ts,
              abs(det.{col} - m_{tag}.med) AS ad
            FROM det JOIN m_{tag} ON det.source = m_{tag}.source),
md_{tag} AS (SELECT source, quantile_cont(ad, 0.5) AS mad
             FROM d_{tag} GROUP BY 1),
s_{tag} AS (SELECT d_{tag}.source, d_{tag}.bucket_ts,
              CASE WHEN md_{tag}.mad > 0
                   THEN 0.6745 * d_{tag}.ad / md_{tag}.mad
                   WHEN d_{tag}.ad > 0 THEN 1e308 ELSE 0.0 END AS s
            FROM d_{tag} JOIN md_{tag}
              ON d_{tag}.source = md_{tag}.source)"""

    tok_extrema = f"""WITH {tok_cte},
feat AS (SELECT source, bucket_ts,
           sum_n_tok::DOUBLE / n_docs AS avg_n_tok,
           ln(min_n_tok::DOUBLE + 1.0) AS lmin,
           ln(max_n_tok::DOUBLE + 1.0) AS lmax
         FROM tok1m),
det AS (SELECT source, bucket_ts, avg_n_tok,
          lmin - avg(lmin) OVER w AS d_min,
          lmax - avg(lmax) OVER w AS d_max
        FROM feat
        WINDOW w AS (PARTITION BY source ORDER BY bucket_ts
                     ROWS BETWEEN 30 PRECEDING AND 30 FOLLOWING)),
{_mad_cte('a', 'avg_n_tok')},
{_mad_cte('s', 'd_min')},
{_mad_cte('d', 'd_max')}
SELECT det.source, det.bucket_ts, 'extrema_ensemble' AS method,
  (s_a.s > 3.5 OR s_s.s > 3.5 OR (s_d.s > 8.0 AND det.d_max < 0))
    AS is_outlier,
  round(greatest(s_a.s, s_s.s, s_d.s), 4) AS score
FROM det
JOIN s_a ON det.source = s_a.source AND det.bucket_ts = s_a.bucket_ts
JOIN s_s ON det.source = s_s.source AND det.bucket_ts = s_s.bucket_ts
JOIN s_d ON det.source = s_d.source AND det.bucket_ts = s_d.bucket_ts"""

    # MA detector (detect.ma_flags over the gap-filled 1m tier): the
    # ev_optimal_window CV-fold SQL extended with the w*-window
    # full-series trailing MA + |z| > 2 flags. Self-joins on idx ranges
    # stand in for the dynamic-width window frame SQL can't express.
    tok_ma = f"""WITH {tok_cte},
b AS (SELECT source, min(bucket_ts) lo, max(bucket_ts) hi FROM tok1m GROUP BY 1),
spine AS (SELECT b.source, u.bucket_ts
          FROM b, unnest(generate_series(b.lo, b.hi, INTERVAL 1 MINUTE)) u(bucket_ts)),
gap AS (SELECT s.source, s.bucket_ts, coalesce(t.sum_n_tok, 0)::DOUBLE AS v
        FROM spine s LEFT JOIN tok1m t
          ON s.source = t.source AND s.bucket_ts = t.bucket_ts),
idx AS (SELECT source, bucket_ts, v,
          (row_number() OVER (PARTITION BY source ORDER BY bucket_ts) - 1) AS idx,
          count(*) OVER (PARTITION BY source) AS n
        FROM gap),
folds AS (SELECT source, v, idx, (n // 6) AS tsz, (n - 5 * (n // 6)) AS strt
          FROM idx),
test AS (SELECT source, v, ((idx - strt) // tsz) AS fold,
           row_number() OVER (PARTITION BY source, ((idx - strt) // tsz)
                              ORDER BY idx) - 1 AS pos
         FROM folds WHERE tsz >= 1 AND idx >= strt),
ws AS (SELECT unnest(generate_series(2, 20)) AS w),
cvma AS (SELECT a.source, a.fold, w.w, a.pos, a.v,
              avg(b2.v) AS mav, count(*) AS cnt
       FROM ws w CROSS JOIN test a JOIN test b2
         ON a.source = b2.source AND a.fold = b2.fold
        AND b2.pos BETWEEN a.pos - (w.w - 1) AND a.pos
       GROUP BY 1, 2, 3, 4, 5),
rmse AS (SELECT source, w, fold, sqrt(avg((v - mav) * (v - mav))) AS r
         FROM cvma WHERE cnt = w GROUP BY 1, 2, 3),
meanr AS (SELECT source, w, avg(r) AS mr FROM rmse GROUP BY 1, 2),
wpick AS (SELECT source, w AS wstar FROM (
  SELECT source, w,
    row_number() OVER (PARTITION BY source ORDER BY mr ASC, w ASC) rk
  FROM meanr) WHERE rk = 1),
fullma AS (SELECT a.source, a.bucket_ts, wp.wstar,
                  avg(b2.v) AS mav, count(*) AS cnt
           FROM idx a JOIN wpick wp ON a.source = wp.source
           JOIN idx b2 ON b2.source = a.source
            AND b2.idx BETWEEN a.idx - (wp.wstar - 1) AND a.idx
           GROUP BY a.source, a.bucket_ts, wp.wstar),
m AS (SELECT source, bucket_ts,
        CASE WHEN cnt = wstar THEN mav END AS ma FROM fullma),
zs AS (SELECT source, avg(ma) mu, stddev_pop(ma) sd FROM m GROUP BY 1)
SELECT m.source, m.bucket_ts, 'ma' AS method,
  coalesce(CASE WHEN m.ma IS NULL THEN NULL
                WHEN zs.sd > 0 THEN abs((m.ma - zs.mu) / zs.sd) > 2.0
                ELSE FALSE END, FALSE) AS is_outlier
FROM m JOIN zs ON m.source = zs.source"""

    tok_iqr = f"""WITH {tok_cte},
f AS (SELECT source, quantile_cont(sum_n_tok, 0.25) q1,
             quantile_cont(sum_n_tok, 0.75) q3 FROM tok1m GROUP BY 1)
SELECT t.source, t.bucket_ts, t.sum_n_tok,
  (t.sum_n_tok < f.q1 - 1.5 * (f.q3 - f.q1)
   OR t.sum_n_tok > f.q3 + 1.5 * (f.q3 - f.q1)) AS is_outlier
FROM tok1m t JOIN f ON t.source = f.source"""

    # classic decomposition oracle (statsmodels seasonal_decompose with
    # extrapolate_trend='freq', period 60, additive-vs-multiplicative
    # picked by smaller residual SSACF — stats/decompose.py +
    # stats/acf.py semantics, reference catch.py:589-691):
    #   - trend: 61-tap half-weight centered MA over row positions,
    #     edges filled by a least-squares line over the first/last 60
    #     interior trend points (the back fit EXCLUDES the last valid
    #     point, mirroring statsmodels' arange(back_first, back))
    #   - seasonal: per-(pos % 60) means of the detrended series,
    #     de-meaned (additive) / mean-normalized (multiplicative)
    #   - SSACF: direct autocovariance at lags 0..min(10*log10(n), n-1)
    #     with denominator n (engine uses FFT — same values)
    # the chain below reads a `series(source, bucket_ts, x)` CTE so the
    # same decomposition SQL serves both tok_decompose_1m (raw rollup)
    # and tok_classic_flags (gap-filled series + MAD fence)
    decomp_chain = """
v AS (SELECT source, bucket_ts, x,
        (row_number() OVER (PARTITION BY source ORDER BY bucket_ts) - 1)
          AS pos,
        count(*) OVER (PARTITION BY source) AS n
      FROM series),
tr AS (SELECT source, bucket_ts, x, pos, n,
        CASE WHEN pos >= 30 AND pos <= n - 31 THEN
          (sum(x) OVER (PARTITION BY source ORDER BY pos
                        ROWS BETWEEN 29 PRECEDING AND 29 FOLLOWING)
           + 0.5 * lag(x, 30) OVER (PARTITION BY source ORDER BY pos)
           + 0.5 * lead(x, 30) OVER (PARTITION BY source ORDER BY pos)
          ) / 60.0 END AS t_raw
      FROM v),
fits AS (SELECT source,
    regr_slope(t_raw, pos::DOUBLE)
      FILTER (WHERE pos >= 30 AND pos < LEAST(90, n - 31)) AS kf,
    regr_intercept(t_raw, pos::DOUBLE)
      FILTER (WHERE pos >= 30 AND pos < LEAST(90, n - 31)) AS bf,
    regr_slope(t_raw, pos::DOUBLE)
      FILTER (WHERE pos >= GREATEST(30, n - 91) AND pos < n - 31) AS kb,
    regr_intercept(t_raw, pos::DOUBLE)
      FILTER (WHERE pos >= GREATEST(30, n - 91) AND pos < n - 31) AS bb
  FROM tr GROUP BY source),
trend AS (SELECT t.source, t.bucket_ts, t.x, t.pos, t.n,
    CASE WHEN t.pos < 30 THEN f.kf * t.pos + f.bf
         WHEN t.pos > t.n - 31 THEN f.kb * t.pos + f.bb
         ELSE t.t_raw END AS tr
  FROM tr t JOIN fits f ON t.source = f.source),
det AS (SELECT *, x - tr AS da, x / tr AS dm, pos % 60 AS ph FROM trend),
pa AS (SELECT source, ph, avg(da) AS ma_, avg(dm) AS mm_
       FROM det GROUP BY 1, 2),
pam AS (SELECT source, avg(ma_) AS ca, avg(mm_) AS cm FROM pa GROUP BY 1),
seas AS (SELECT pa.source, pa.ph, pa.ma_ - pam.ca AS sa,
                pa.mm_ / pam.cm AS sm
         FROM pa JOIN pam ON pa.source = pam.source),
comp AS (SELECT d.source, d.bucket_ts, d.x, d.pos, d.n, d.tr,
                s.sa, s.sm,
                d.x - d.tr - s.sa AS ra, d.x / (d.tr * s.sm) AS rm
         FROM det d JOIN seas s
           ON d.source = s.source AND d.ph = s.ph),
allpos AS (SELECT source, min(x) > 0 AS ap FROM v GROUP BY 1),
rstat AS (SELECT source, avg(ra) AS mua, avg(rm) AS mum,
                 max(n) AS n,
                 LEAST(floor(10 * log10(max(n)))::INT, max(n) - 1)
                   AS nlags
          FROM comp GROUP BY 1),
lagset AS (SELECT source, unnest(generate_series(0, nlags)) AS l
           FROM rstat),
acov AS (SELECT g.source, g.l,
           sum((a.ra - st.mua) * (b.ra - st.mua)) / st.n AS ca,
           sum((a.rm - st.mum) * (b.rm - st.mum)) / st.n AS cm
         FROM lagset g
         JOIN comp a ON a.source = g.source
         JOIN comp b ON b.source = g.source AND b.pos = a.pos - g.l
         JOIN rstat st ON st.source = g.source
         GROUP BY g.source, g.l, st.n),
acz AS (SELECT source, ca AS ca0, cm AS cm0 FROM acov WHERE l = 0),
ss AS (SELECT a.source,
         sum((a.ca / z.ca0) * (a.ca / z.ca0)) AS ssa,
         sum((a.cm / z.cm0) * (a.cm / z.cm0)) AS ssm
       FROM acov a JOIN acz z ON a.source = z.source GROUP BY 1),
pick AS (SELECT ss.source,
           CASE WHEN ap.ap AND ss.ssa >= ss.ssm
                THEN 'multiplicative' ELSE 'additive' END AS model
         FROM ss JOIN allpos ap ON ss.source = ap.source)"""

    tok_decomp = f"""WITH {tok_cte},
series AS (SELECT source, bucket_ts, sum_n_tok::DOUBLE AS x FROM tok1m),
{decomp_chain}
SELECT f.source, f.bucket_ts,
  round(f.x, 4) AS observed,
  round(CASE WHEN p.model = 'multiplicative' THEN f.sm ELSE f.sa END, 4)
    AS seasonal,
  round(f.tr, 4) AS trend,
  round(CASE WHEN p.model = 'multiplicative' THEN f.rm ELSE f.ra END, 4)
    AS resid,
  p.model AS model
FROM comp f JOIN pick p ON f.source = p.source"""

    # classic flags: the SAME decomposition chain over the GAP-FILLED
    # 1m series (zero-filled gaps force additive for gapped sources via
    # the all-positive guard, exactly like the engine), then the PyOD
    # MAD modified-z fence (> 3.5) on the chosen model's residuals
    # (detect._series_detector 'classic' branch; reference
    # catch.py:589-691 + 228-232)
    tok_classic = f"""WITH {tok_cte},
gb AS (SELECT source, min(bucket_ts) lo, max(bucket_ts) hi
       FROM tok1m GROUP BY 1),
spine AS (SELECT gb.source, u.bucket_ts
          FROM gb, unnest(generate_series(gb.lo, gb.hi,
                                          INTERVAL 1 MINUTE)) u(bucket_ts)),
series AS (SELECT s.source, s.bucket_ts,
             coalesce(t.sum_n_tok, 0)::DOUBLE AS x
           FROM spine s LEFT JOIN tok1m t
             ON s.source = t.source AND s.bucket_ts = t.bucket_ts),
{decomp_chain},
rsel AS (SELECT f.source, f.bucket_ts,
           CASE WHEN p.model = 'multiplicative' THEN f.rm ELSE f.ra END
             AS r
         FROM comp f JOIN pick p ON f.source = p.source),
rmed AS (SELECT source, quantile_cont(r, 0.5) AS med FROM rsel GROUP BY 1),
rdev AS (SELECT rsel.source, rsel.bucket_ts, abs(rsel.r - rmed.med) AS ad
         FROM rsel JOIN rmed ON rsel.source = rmed.source),
rmad AS (SELECT source, quantile_cont(ad, 0.5) AS mad FROM rdev GROUP BY 1)
SELECT d.source, d.bucket_ts, 'classic' AS method,
  (CASE WHEN m.mad > 0 THEN 0.6745 * d.ad / m.mad
        WHEN d.ad > 0 THEN 1e308 ELSE 0.0 END) > 3.5 AS is_outlier
FROM rdev d JOIN rmad m ON d.source = m.source"""

    return {
        "ev_rollup_1m": ev_rollup.format(unit="minute"),
        "ev_rollup_1h": ev_rollup.format(unit="hour"),
        "ev_rollup_1d": ev_rollup.format(unit="day"),
        "ev_gapfill_1h": gapfill,
        "ev_iqr_flags_1h": iqr,
        "ev_zscore_flags_1h": zscore,
        "ev_mad_flags_1h": mad,
        "ev_ma7_1h": ma7,
        "ev_latest_outlier": latest,
        "ev_optimal_window": optwin,
        "ev_exact_dedup": dedup,
        "doc_exact_dedup": doc_dedup,
        "emb_neardup_pairs": neardup,
        "emb_neardup_banded": neardup_banded,
        "emb_neardup_sized": neardup_sized,
        "doc_token_counts": tokc,
        "doc_quality": quality,
        "doc_langid": langid,
        "doc_fingerprint": fp,
        "doc_simhash_md5_pairs": simhash_md5,
        "doc_minhash_md5_pairs": minhash_md5,
        "doc_rolling_hash": rolling,
        "doc_ngram_jaccard": jaccard,
        "emb_cosine_topk": cosine,
        "emb_lsh_topk": lsh,
        "emb_ivf_topk": ivf,
        "tok_rollup_1m": tok_1m,
        "tok_rollup_1h": tok_1h,
        "tok_rollup_1d": tok_1d,
        "tok_retention_1m": tok_retention,
        "tok_zscore_flags": tok_zscore,
        "tok_mad_flags": tok_mad,
        "tok_mad_ratio_flags": tok_mad_ratio,
        "tok_extrema_flags": tok_extrema,
        "tok_gapfill_1m": tok_gap,
        "tok_iqr_flags": tok_iqr,
        "tok_ma_flags": tok_ma,
        "ev_monthwise": monthwise,
        "tok_decompose_1m": tok_decomp,
        "tok_classic_flags": tok_classic,
        # rows-only (non-SQL-expressible: xxhash64-based minhash/simhash
        # banding, STL/MSTL/ESD decomposition kernels + OLS
        # stationarity, Gorilla codec, mapInPandas media stubs):
        # doc_minhash_pairs, doc_simhash_pairs,
        # tok_stl_flags, tok_mstl_flags,
        # tok_esd_flags, tok_stationarity,
        # tok_compress_blocks, media_features
    }
