"""Training-data pipeline text operators over the `documents` table.

All hot paths are native pyspark.sql expressions / higher-order array
functions (JVM codegen); only MinHash banding uses xxhash64 (still
native). Designed so the simple operators have exact DuckDB oracles
(ASCII-only regexes to dodge regex-dialect divergence) while the
hash-based ones (minhash/simhash) are Spark-native-only.

Operators:
  - token_count                       whitespace + BPE-ish regex counting
  - quality_score                     length/punct/stopword ratio scoring
  - detect_language                   stopword-hit n-gram heuristic
  - fingerprint                       md5 + Karp-Rabin rolling hash
  - exact_dedup                       hash-groupBy, keep min doc_id
  - ngram_jaccard_pairs               blocked pairwise word-set Jaccard
  - minhash_signatures / minhash_dup_pairs   MinHash + LSH band join
  - simhash / simhash_dup_pairs       64-bit SimHash + hamming verify
"""

from __future__ import annotations

import itertools

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# per-process sequence for default minhash signature-table names — a
# shared default name would let one call clobber another's lazily-read
# signatures (see minhash_dup_pairs)
_SIG_SEQ = itertools.count()


def _sig_scratch_path() -> str:
    """The per-process scratch dir path (no side effects) — single
    source of truth for _default_sig_scratch and cleanup_sigs."""
    import os
    import tempfile

    return os.path.join(tempfile.gettempdir(),
                        f"tstoken_sigs_{os.getpid()}")


def _default_sig_scratch() -> str:
    """Per-process scratch dir for default signature tables, removed at
    interpreter exit so per-invocation unique tables cannot leak past
    the process that owns them."""
    import atexit
    import shutil

    scratch = _sig_scratch_path()
    if not getattr(_default_sig_scratch, "_registered", False):
        atexit.register(shutil.rmtree, scratch, ignore_errors=True)
        _default_sig_scratch._registered = True
    return scratch


def cleanup_sigs() -> int:
    """Remove all default-io minhash signature tables accumulated by
    this process, returning how many were deleted.

    For callers looping minhash_dup_pairs over many corpora with the
    default io: each call leaves one signature copy on disk until
    interpreter exit; call this between corpora once the previous
    result has been fully consumed. Results from earlier calls are
    lazily bound to these parquet tables and become unreadable after
    cleanup — collect before cleaning."""
    import os
    import shutil

    scratch = _sig_scratch_path()
    if not os.path.isdir(scratch):
        return 0
    tables = [d for d in os.listdir(scratch)
              if d.startswith("minhash_sigs_")]
    for d in tables:
        shutil.rmtree(os.path.join(scratch, d), ignore_errors=True)
    return len(tables)

def _spread(df: DataFrame, cols: tuple[str, ...] = ("doc_id", "text")) -> DataFrame:
    """Project to `cols` and ensure at least defaultParallelism input
    partitions before per-row text work (regex, higher-order functions,
    shingle hashing).

    Small single-file parquet corpora arrive as ONE scan split (parquet
    can't split below a row group), so every downstream per-row
    expression runs on one thread until the first exchange — measured
    3-5 s vs 0.35 s for the sf0.1 shingle pass on local[32]. At cluster
    scale a large corpus scan already has >= cores splits and this is a
    no-op (no extra shuffle); when it does fire, the projection keeps
    the exchange payload to exactly the columns the operator needs."""
    target = max(df.sparkSession.sparkContext.defaultParallelism, 8)
    out = df.select(*cols)
    if out.rdd.getNumPartitions() >= target:
        return out
    return out.repartition(target)


WORD_RE = "[A-Za-z0-9]+"
PUNCT_RE = "[.,;:!?'\"()\\[\\]{}-]"
STOPWORDS = {
    "en": ["the", "a", "and", "of", "to", "in", "is", "it", "that", "was"],
    "es": ["el", "la", "de", "que", "y", "en", "un", "una", "es", "los"],
    "fr": ["le", "la", "de", "et", "les", "des", "en", "un", "une", "est"],
    "de": ["der", "die", "das", "und", "ist", "von", "ein", "eine", "zu", "den"],
}


def _words(col: str = "text") -> F.Column:
    """Lower-cased ASCII word tokens (empty strings filtered)."""
    return F.filter(
        F.split(F.lower(F.col(col)), "[^a-z0-9]+"),
        lambda w: w != F.lit(""))


def token_count(docs: DataFrame) -> DataFrame:
    """Whitespace + BPE-ish token counts per document (SURVEY brief)."""
    ws = F.when(F.length(F.trim(F.col("text"))) == 0, F.lit(0)) \
          .otherwise(F.size(F.split(F.trim(F.col("text")), "\\s+")))
    bpe = F.regexp_count(F.col("text"), F.lit(r"[A-Za-z0-9]+|[^A-Za-z0-9\s]"))
    return _spread(docs).select(
        "doc_id",
        ws.cast("int").alias("ws_tokens"),
        bpe.cast("int").alias("bpe_tokens"),
        F.length("text").cast("int").alias("n_chars_calc"))


def quality_score(docs: DataFrame) -> DataFrame:
    """Heuristic quality features + composite score (SURVEY brief)."""
    n_chars = F.length("text").cast("double")
    n_words = F.size(_words()).cast("double")
    n_punct = F.regexp_count("text", F.lit(PUNCT_RE)).cast("double")
    stop_arr = F.array(*[F.lit(w) for w in STOPWORDS["en"]])
    n_stop = F.size(F.filter(_words(),
                             lambda w: F.array_contains(stop_arr, w))).cast("double")
    mean_word_len = F.when(n_words > 0, (F.length(F.regexp_replace(
        F.col("text"), "[^A-Za-z0-9]", "")) / n_words)).otherwise(F.lit(0.0))
    punct_ratio = F.when(n_chars > 0, n_punct / n_chars).otherwise(F.lit(0.0))
    stop_ratio = F.when(n_words > 0, n_stop / n_words).otherwise(F.lit(0.0))
    score = (F.least(n_words / F.lit(100.0), F.lit(1.0)) * 0.4
             + F.least(stop_ratio * F.lit(5.0), F.lit(1.0)) * 0.4
             + (F.lit(1.0) - F.least(punct_ratio * F.lit(10.0), F.lit(1.0))) * 0.2)
    return _spread(docs).select(
        "doc_id",
        n_words.cast("int").alias("n_words"),
        F.round(mean_word_len, 4).alias("mean_word_len"),
        F.round(punct_ratio, 4).alias("punct_ratio"),
        F.round(stop_ratio, 4).alias("stop_ratio"),
        F.round(score, 4).alias("quality"))


def detect_language(docs: DataFrame) -> DataFrame:
    """Stopword-hit language heuristic; 'und' (undetermined) when no
    language scores a hit. Deterministic tie-break by language code."""
    words = _words()
    def _hit_counter(stop_list):
        arr = F.array(*[F.lit(w) for w in stop_list])
        return F.size(F.filter(words, lambda w: F.array_contains(arr, w)))

    hit_cols = []
    for lang in sorted(STOPWORDS):
        hits = _hit_counter(STOPWORDS[lang])
        hit_cols.append(F.struct(hits.alias("hits"),
                                 F.lit(lang).alias("lang")))
    # argmax by (hits, then lexicographically-last lang loses): sort the
    # struct array descending and take the head
    best = F.sort_array(F.array(*hit_cols), asc=False)[0]
    return _spread(docs, ("doc_id", "lang", "text")).select(
        "doc_id", "lang",
        F.when(best["hits"] > 0, best["lang"]).otherwise(F.lit("und"))
         .alias("lang_pred"),
        best["hits"].cast("int").alias("stopword_hits"))


def fingerprint(docs: DataFrame) -> DataFrame:
    """md5 fingerprint + 31-bit Karp-Rabin rolling hash of word tokens.

    The rolling hash folds the word array with a higher-order aggregate
    (no Python): h = Σ h*B + word value (mod 2^31-1, Mersenne); word
    value = polynomial char hash. Entirely JVM-side; the modulus keeps
    every intermediate product < 2^52, safe under ANSI overflow checks.
    """
    MOD = (1 << 31) - 1
    B = 1000003

    def word_val(w):
        # polynomial char hash of one word (ASCII codepoints)
        return F.aggregate(
            F.split(w, ""),
            F.lit(0).cast("long"),
            lambda acc, ch: F.pmod(acc * F.lit(131) + F.coalesce(
                F.ascii(ch).cast("long"), F.lit(0)), F.lit(MOD)))

    rolling = F.aggregate(
        _words(), F.lit(0).cast("long"),
        lambda acc, w: F.pmod(acc * F.lit(B) + word_val(w), F.lit(MOD)))
    return _spread(docs).select(
        "doc_id",
        F.md5("text").alias("md5"),
        rolling.alias("rolling_hash"))


def exact_dedup(docs: DataFrame) -> DataFrame:
    """Exact duplicate groups by text hash; keeps min doc_id as canonical.

    At 100TB scale the md5 groupBy shuffles only (hash, doc_id) — the
    text column is dropped before the exchange.
    """
    h = _spread(docs).select(F.md5("text").alias("text_md5"), "doc_id")
    return (h.groupBy("text_md5")
            .agg(F.min("doc_id").alias("keep_doc_id"),
                 F.count(F.lit(1)).alias("n_dupes"))
            .filter(F.col("n_dupes") > 1))


def ngram_jaccard_pairs(docs: DataFrame, threshold: float = 0.4,
                        length_band: int = 16) -> DataFrame:
    """Near-dup pairs by word-set Jaccard, blocked by (source,
    length-band) so the join is an equi-join, not a cross product.

    Blocking uses TWO band grids of cell size `length_band`, the second
    offset by half a cell: a pair straddling a grid-0 cell boundary
    (e.g. lengths 15 vs 17 with band 16 — dropped by the round-2
    single-grid blocking) still shares a grid-1 cell. Any pair whose
    length difference is <= length_band/2 is guaranteed to be compared;
    larger gaps may be, if they land in one cell. Candidates hit by
    both grids are deduped — on bare id pairs, BEFORE the word sets are
    attached, so the dedup exchange shuffles two longs per candidate
    instead of two word arrays (pairs >> docs at scale); the sets are
    joined back per side afterwards, each doc's array crossing the wire
    once per side rather than once per candidate pair."""
    half = max(length_band // 2, 1)
    banded = docs.select(
        "doc_id", "source", F.length("text").alias("n")) \
        .select(
            "doc_id", "source",
            F.explode(F.array(
                F.struct(F.lit(0).alias("grid"),
                         (F.col("n") / length_band).cast("int")
                         .alias("cell")),
                F.struct(F.lit(1).alias("grid"),
                         ((F.col("n") + half) / length_band).cast("int")
                         .alias("cell")))).alias("bd")) \
        .select("doc_id", "source",
                F.col("bd.grid").alias("grid"), F.col("bd.cell").alias("cell"))
    a = banded.alias("a")
    b = banded.alias("b")
    cand = (a.join(b, (F.col("a.source") == F.col("b.source")) &
                   (F.col("a.grid") == F.col("b.grid")) &
                   (F.col("a.cell") == F.col("b.cell")) &
                   (F.col("a.doc_id") < F.col("b.doc_id")))
            .select(F.col("a.doc_id").alias("doc_a"),
                    F.col("b.doc_id").alias("doc_b"))
            .dropDuplicates(["doc_a", "doc_b"]))
    wsets = _spread(docs).select(
        "doc_id", F.array_distinct(_words()).alias("wset"))
    pairs = (cand
             .join(wsets.select(F.col("doc_id").alias("doc_a"),
                                F.col("wset").alias("wset_a")), "doc_a")
             .join(wsets.select(F.col("doc_id").alias("doc_b"),
                                F.col("wset").alias("wset_b")), "doc_b"))
    inter = F.size(F.array_intersect("wset_a", "wset_b")).cast("double")
    union = (F.size("wset_a") + F.size("wset_b")).cast("double") - inter
    jac = F.when(union > 0, inter / union).otherwise(F.lit(0.0))
    return (pairs.select("doc_a", "doc_b",
                         F.round(jac, 6).alias("jaccard"))
            .filter(F.col("jaccard") >= threshold))


# ------------------------------------------------------------- MinHash

def _shingles(col="text", k: int = 5) -> F.Column:
    """Character k-shingles of the lower-cased text (distinct)."""
    t = F.lower(F.col(col))
    n = F.length(t)
    idx = F.sequence(F.lit(1), F.greatest(n - (k - 1), F.lit(1)))
    return F.array_distinct(
        F.transform(idx, lambda i: t.substr(i, F.lit(k))))


def minhash_signatures(docs: DataFrame, num_hashes: int = 64,
                       hash_family: str = "xxhash64") -> DataFrame:
    """MinHash signature per doc.

    Shingles are string-hashed ONCE, then the k signature slots come
    from a universal-hash family over the base hash:
    sig[j] = min over shingles of (a_j·h + b_j) mod (2^31-1) — one
    expensive string-hash pass + k cheap integer passes, instead of k
    string-hash passes. All arithmetic stays below 2^52, safe under
    ANSI overflow checks.

    hash_family: "xxhash64" (production — cheap JVM hash, rows-only
    verification) or "md5" (conv(substr(md5,1,15),16,10), bit-identical
    in DuckDB, so the md5 pipeline is exactly oracle-checkable).
    """
    P = (1 << 31) - 1
    k = 5

    # Explode shingle positions and aggregate natively: the whole
    # pipeline (sequence -> explode -> substring -> xxhash64 -> 63
    # min() aggregates) stays inside whole-stage codegen. The previous
    # formulation (num_hashes interpreted F.transform lambdas over a
    # shingle array) was allocation-bound and anti-scaled with threads,
    # like any per-element interpreted higher-order function.
    # Duplicate shingles are harmless under min(), so no distinct pass.
    t = F.lower(F.col("text"))
    n = F.length(t)
    shingle = F.col("t").substr(F.col("i"), F.lit(k))
    if hash_family == "md5":
        base = F.conv(F.substring(F.md5(shingle), 1, 15), 16, 10) \
                .cast("long")
    else:
        base = F.xxhash64(shingle)
    sh = (_spread(docs)
          .select("doc_id", t.alias("t"),
                  F.explode(F.sequence(
                      F.lit(1), F.greatest(n - (k - 1), F.lit(1))))
                   .alias("i"))
          .select("doc_id", F.pmod(base, F.lit(P)).alias("h")))
    aggs = []
    for j in range(num_hashes):
        a = 2 * j + 1 + 104729          # odd multipliers, fixed family
        b = (j * 7919 + 13) % P
        aggs.append(F.min(F.pmod(F.lit(a) * F.col("h") + F.lit(b),
                                 F.lit(P))).alias(f"m{j}"))
    g = sh.groupBy("doc_id").agg(*aggs)
    sig = F.array(*[F.col(f"m{j}") for j in range(num_hashes)])
    return g.select("doc_id", sig.alias("sig"))


def minhash_dup_pairs(docs: DataFrame, num_hashes: int = 63,
                      bands: int = 21, threshold: float = 0.5,
                      io=None, sig_table: str | None = None,
                      hash_family: str = "xxhash64",
                      prefilter_frac: float = 0.7) -> DataFrame:
    """LSH near-dup pairs: band bucket-join → signature-agreement
    prefilter → exact shingle-Jaccard verification.

    shingle→minhash→band→bucket-join per the brief. Default geometry
    b=21, r=3 targets t ≈ (1/b)^(1/r) ≈ 0.36. Corpora with a high
    baseline similarity flood the band buckets, so candidates are first
    cut by the minhash Jaccard ESTIMATE (fraction of agreeing signature
    slots — already computed, integer compares only) and only survivors
    pay for the exact array_intersect verification.

    Signatures are materialized ONCE through a TableIO table (pass
    `io`; a process-temp parquet TableIO is created otherwise) so the
    self-join doesn't recompute shingle hashing on both sides AND the
    materialization survives executor loss — localCheckpoint blocks
    are executor-local and would kill a long LSH job mid-flight at
    cluster scale (round-1 verdict #5).

    When no explicit `sig_table` is passed the table name is unique per
    invocation (monotonic counter): the returned DataFrame reads the
    parquet lazily, so a shared default name would let a second call
    overwrite the signatures under an earlier, not-yet-collected
    result. The per-process scratch dir holding those default tables is
    removed at interpreter exit (atexit) — results are lazily bound to
    the parquet, so their lifetime is at most the process's, and the
    disk cost is bounded by the process, not left behind forever.
    Within one long-lived process, repeated default-io calls still
    accumulate one signature copy each until exit; callers looping over
    corpora should either pass io + sig_table explicitly and own the
    overwrite/reuse lifecycle, or call cleanup_sigs() between corpora
    once each result has been fully consumed.

    Prefilter recall: the 0.7·threshold signature-agreement cut drops a
    true pair only when its estimate falls ≥0.3·threshold below truth.
    With 63 slots the estimator is Binomial(63, j)/63 (σ ≈ 0.063 at
    j = 0.5), so at the default threshold 0.5 a just-above-threshold
    pair needs a ≈2.4σ-low draw to be lost — property-tested over
    planted near-threshold pairs in test_round4_hardening.py (zero
    drops across seeds, prefilter on vs off A/B on identical
    signatures), measured drop rate 0 at sf0.01/sf0.001 vs the exact
    md5 oracle.
    """
    if not 0.0 <= prefilter_frac <= 1.0:
        # >1 silently drops true pairs above the threshold (the cut
        # would demand an estimate ABOVE truth); <0 is meaningless
        raise ValueError(
            f"prefilter_frac must be in [0, 1], got {prefilter_frac}")
    rows_per_band = num_hashes // bands
    if sig_table is None:
        sig_table = f"minhash_sigs_{next(_SIG_SEQ)}"
    if io is None:
        from .tableio import TableIO
        io = TableIO(docs.sparkSession, _default_sig_scratch())
    io.overwrite(sig_table,
                 minhash_signatures(docs, num_hashes,
                                    hash_family=hash_family),
                 partition_by=())
    sigs = io.read(sig_table)
    if hash_family == "md5":
        # band key = the slot-value ARRAY itself (no bucket hash):
        # slot arrays compare identically in any engine, so the DuckDB
        # oracle reproduces the banding exactly. The production path
        # keeps xxhash64 bucket ids (8-byte keys vs r ints).
        def band_key(b):
            return F.array(*[F.col("sig")[b * rows_per_band + r]
                             for r in range(rows_per_band)]).alias("bh")
    else:
        def band_key(b):
            return F.xxhash64(*[F.col("sig")[b * rows_per_band + r]
                                for r in range(rows_per_band)]).alias("bh")
    band_rows = sigs.select(
        "doc_id",
        F.explode(F.array(*[
            F.struct(F.lit(b).alias("band"), band_key(b))
            for b in range(bands)])).alias("bs")) \
        .select("doc_id", F.col("bs.band").alias("band"), F.col("bs.bh").alias("bh"))
    a, b = band_rows.alias("a"), band_rows.alias("b")
    cand = (a.join(b, ["band", "bh"])
            .filter(F.col("a.doc_id") < F.col("b.doc_id"))
            .select(F.col("a.doc_id").alias("doc_a"),
                    F.col("b.doc_id").alias("doc_b"))
            .distinct())
    # prefilter: estimated Jaccard from signature agreement
    cand = (cand
            .join(sigs.select(F.col("doc_id").alias("doc_a"),
                              F.col("sig").alias("sig_a")), "doc_a")
            .join(sigs.select(F.col("doc_id").alias("doc_b"),
                              F.col("sig").alias("sig_b")), "doc_b"))
    agree = F.aggregate(
        F.zip_with("sig_a", "sig_b",
                   lambda x, y: F.when(x == y, 1).otherwise(0)),
        F.lit(0), lambda acc, v: acc + v)
    est = agree.cast("double") / F.lit(float(num_hashes))
    if prefilter_frac > 0:
        # prefilter_frac=0 disables the estimate cut (every banded
        # candidate pays exact verification) — the recall property test
        # A/Bs 0.7 vs 0 on identical signatures to prove zero drops
        cand = cand.filter(est >= threshold * prefilter_frac)
    cand = cand.select("doc_a", "doc_b")
    # verify survivors with true shingle Jaccard (spread first: the
    # shingle arrays are the expensive per-row expression here —
    # measured 3-5 s single-threaded vs 0.35 s spread at sf0.1)
    sh = _spread(docs).select("doc_id", _shingles().alias("sh"))
    v = (cand
         .join(sh.withColumnRenamed("doc_id", "doc_a")
                 .withColumnRenamed("sh", "sh_a"), "doc_a")
         .join(sh.withColumnRenamed("doc_id", "doc_b")
                 .withColumnRenamed("sh", "sh_b"), "doc_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
    union = (F.size("sh_a") + F.size("sh_b")).cast("double") - inter
    jac = F.when(union > 0, inter / union).otherwise(F.lit(0.0))
    return (v.select("doc_a", "doc_b", F.round(jac, 6).alias("jaccard"))
            .filter(F.col("jaccard") >= threshold))


# ------------------------------------------------------------- SimHash

def simhash(docs: DataFrame, hash_col: F.Column | None = None) -> DataFrame:
    """64-bit SimHash over word tokens: explode word hashes, then 64
    native bit-vote sums under whole-stage codegen.

    The previous formulation ran 64 interpreted `F.aggregate` lambdas
    per row — the allocation-bound higher-order-function path that
    anti-scales beyond ~8 threads (measured for rollup_1m, README).
    Here the exploded (doc_id, xxhash64(word)) stream is aggregated
    with plain conditional sums (votes[i] = Σ ±1 on bit i), exactly the
    posexplode+codegen rewrite rollup_1m and minhash_signatures already
    use. explode_outer keeps zero-word docs (simhash = 0, matching the
    old empty-array fold).

    hash_col: expression over the exploded word column `w` (default
    xxhash64 — the fast JVM path). simhash_md5 passes a cross-engine
    hash instead so the whole pipeline is DuckDB-oracle-checkable."""
    if hash_col is None:
        hash_col = F.xxhash64("w")
    h_raw = (_spread(docs)
             .select("doc_id", F.explode_outer(_words()).alias("w"))
             .select("doc_id",
                     F.when(F.col("w").isNotNull(), hash_col)
                      .alias("h")))
    aggs = [
        F.sum(F.when(F.col("h").isNull(), 0)
               .when(F.shiftright("h", i).bitwiseAND(F.lit(1)) == 1, 1)
               .otherwise(-1)).alias(f"v{i}")
        for i in range(64)]
    g = h_raw.groupBy("doc_id").agg(*aggs)
    sh = F.lit(0).cast("long")
    for i in range(64):
        sh = sh.bitwiseOR(
            F.when(F.col(f"v{i}") > 0,
                   F.shiftleft(F.lit(1).cast("long"), i))
             .otherwise(F.lit(0).cast("long")))
    return g.select("doc_id", sh.alias("simhash"))


def simhash_md5(docs: DataFrame) -> DataFrame:
    """SimHash over a 60-bit md5-derived word hash —
    conv(substr(md5(w),1,15),16,10) — computable bit-identically in
    any engine with md5 (DuckDB: ('0x'||substr(md5(w),1,15))::UBIGINT),
    so the FULL simhash + pigeonhole-banding pipeline gets an exact
    DuckDB oracle (the xxhash64 production path is rows-only because
    no other engine implements Spark's seeded xxhash64). Production
    keeps xxhash64: one cheap JVM hash vs md5's cryptographic cost."""
    h = F.conv(F.substring(F.md5("w"), 1, 15), 16, 10).cast("long")
    return simhash(docs, hash_col=h)


def simhash_dup_pairs(docs: DataFrame, max_hamming: int = 3) -> DataFrame:
    """Near-dup pairs with hamming(simhash) <= max_hamming, blocked on
    bit chunks (Manku/Charikar-style SimHash blocking).

    Recall contract: the 64 bits are split into `max_hamming + 1`
    near-equal chunks, so by pigeonhole ANY pair within the distance
    bound shares at least one identical chunk and survives the
    candidate equi-join — the round-2 default (4 fixed chunks with
    max_hamming=8) silently dropped pairs at distance 4-8. The default
    bound is 3 (4 chunks of 16 bits): wider bounds are honored too, but
    chunks narrow to 64/(k+1) bits and candidate buckets fatten
    accordingly — at cluster scale prefer a small bound or a second
    rotation pass over a wide bound.

    BREAKING (round 3, see CHANGES.md): the default max_hamming
    changed 8 -> 3 with this fix, so default callers get a smaller —
    now guaranteed-complete — pair set than round-2 code returned;
    pass max_hamming=8 explicitly for the old radius.
    """
    return simhash_pairs_from_sigs(simhash(docs), max_hamming=max_hamming)


def simhash_pairs_from_sigs(sh: DataFrame,
                            max_hamming: int = 3) -> DataFrame:
    """Pair recovery over precomputed (doc_id, simhash) rows — split out
    of simhash_dup_pairs so the pigeonhole recall contract is property-
    testable directly on arbitrary 64-bit signatures (planting exact
    hamming distances through text is not controllable)."""
    n_chunks = max(int(max_hamming) + 1, 1)
    bounds = [(c * 64) // n_chunks for c in range(n_chunks)] + [64]
    chunk_cols = []
    for c in range(n_chunks):
        start, width = bounds[c], bounds[c + 1] - bounds[c]
        piece = (F.col("simhash") if width >= 64 else
                 F.shiftright("simhash", start)
                  .bitwiseAND(F.lit((1 << width) - 1)))
        chunk_cols.append(F.struct(F.lit(c).alias("chunk"),
                                   piece.alias("ch")))
    chunks = sh.select(
        "doc_id", "simhash",
        F.explode(F.array(*chunk_cols)).alias("cc")) \
        .select("doc_id", "simhash", F.col("cc.chunk").alias("chunk"),
                F.col("cc.ch").alias("ch"))
    a, b = chunks.alias("a"), chunks.alias("b")
    cand = (a.join(b, ["chunk", "ch"])
            .filter(F.col("a.doc_id") < F.col("b.doc_id"))
            .select(F.col("a.doc_id").alias("doc_a"),
                    F.col("a.simhash").alias("sh_a"),
                    F.col("b.doc_id").alias("doc_b"),
                    F.col("b.simhash").alias("sh_b"))
            .distinct())
    ham = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return (cand.select("doc_a", "doc_b", ham.cast("int").alias("hamming"))
            .filter(F.col("hamming") <= max_hamming))
