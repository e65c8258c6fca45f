"""Similarity search over the `embeddings` table (array<float> column).

  - cosine_topk: brute-force cosine top-k, dot products via zip_with /
    aggregate higher-order functions (JVM-side, no Python). The small
    query side is broadcast; the corpus is scanned once. This is the
    exactness baseline and the DuckDB-oracle-checkable path.
  - lsh_topk: random-hyperplane LSH buckets (sign of dot with seeded
    deterministic hyperplanes) → candidates share a bucket → exact
    re-rank within candidates. The 100TB path: candidate generation is
    an equi-join on (plane-set, bucket signature).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _dot(a, b, dim: int | None = None) -> F.Column:
    """Dot product of two array columns.

    With dim (the statically-known vector width): a fixed-width
    expression chain with the SAME left-fold order as the aggregate
    below (0.0 + a0*b0 + a1*b1 + ...), so results are bit-identical —
    but it stays inside whole-stage codegen, where zip_with/aggregate
    are interpreted HigherOrderFunctions (they dominated pair-scoring
    walls at the round-5 large-sf gate: emb_neardup_sized 118 s,
    emb_lsh_topk 54 s at 8k x 64 on local[8]). A size guard nulls the
    result when either side's length differs from dim, matching
    zip_with's null-padding for every uniform-width input (the only
    divergence is a corpus mixing SEVERAL widths, where len(a)==len(b)
    != dim used to score real — mixed-width corpora are already
    documented as unsupported, see infer_dim).

    Without dim: the general interpreted fold (arbitrary widths)."""
    if dim:
        expr = F.lit(0.0)
        for i in range(dim):
            expr = expr + a.getItem(i) * b.getItem(i)
        return F.when((F.size(a) == dim) & (F.size(b) == dim), expr)
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                       F.lit(0.0), lambda acc, v: acc + v)


def _norm(a, dim: int | None = None) -> F.Column:
    if dim:
        expr = F.lit(0.0)
        for i in range(dim):
            expr = expr + a.getItem(i) * a.getItem(i)
        return F.sqrt(F.when(F.size(a) == dim, expr))
    return F.sqrt(F.aggregate(F.transform(a, lambda x: x * x),
                              F.lit(0.0), lambda acc, v: acc + v))


def with_cosine(pairs: DataFrame, a_col: str = "qvec",
                b_col: str = "embedding",
                dim: int | None = None,
                a_norm_col: str | None = None,
                b_norm_col: str | None = None) -> DataFrame:
    """Append `cosine` (rounded 6dp). Pass dim (when statically known,
    i.e. from infer_dim) to score via the codegen chain in _dot/_norm
    instead of interpreted higher-order folds — identical results on
    any uniform-width corpus, same fold order.

    a_norm_col/b_norm_col: names of PRE-COMPUTED norm columns (built
    with `_norm` on the un-joined sides). Norms are per-ROW O(d) work;
    recomputing them inside pair scoring repeats that work once per
    PAIR. Values are identical either way (same expression over the
    same rows, multiplied in the same order), so results are
    bit-identical — but the WIN IS PATH-DEPENDENT, measured both ways
    at the 8k×64 gate scale (BENCH/BASELINE.md "Norm placement"):
    pre-norm wins on equi-join candidate plans (lsh/ivf/cosine_topk,
    1.2–1.8× — the norm rides each row once through the shuffle) and
    LOSES 2.7× on the BNLJ all-pairs baseline (the extra double
    columns through the nested-loop consume cost more than the
    redundant per-pair flops). Only pass these on equi-join plans."""
    a, b = F.col(a_col), F.col(b_col)
    na = F.col(a_norm_col) if a_norm_col else _norm(a, dim)
    nb = F.col(b_norm_col) if b_norm_col else _norm(b, dim)
    denom = na * nb
    # a zero vector scores 0.0; a NULL denom (a vector whose width is
    # not `dim`, or a NULL vector) has no cosine and scores NULL
    cos = F.when(denom > 0, _dot(a, b, dim) / denom) \
           .when(denom.isNotNull(), F.lit(0.0))
    return pairs.withColumn("cosine", F.round(cos, 6))


def _rank_topk(scored: DataFrame, k: int) -> DataFrame:
    """Top-k per query by (cosine desc, vec_id asc); a pair with a NULL
    cosine is no neighbour and never ranks."""
    from pyspark.sql import Window

    w = Window.partitionBy("qid").orderBy(F.col("cosine").desc(),
                                          F.col("vec_id").asc())
    return (scored.filter(F.col("cosine").isNotNull())
            .withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("qid", "vec_id", "cosine", "rank"))


def cosine_topk(emb: DataFrame, queries: DataFrame, k: int = 5) -> DataFrame:
    """Exact top-k neighbors per query vector (brute force).

    queries: (qid, qvec). The query side is broadcast; the corpus scan
    is a single pass with no shuffle until the final per-query top-k
    (window over qid).
    """
    # spread the corpus scan over the cluster: a small corpus parquet
    # is often ONE file, and a 1-partition broadcast-join pins the
    # whole O(n*q) scoring on a single task
    dim = _infer_dim_or_none(emb)
    par = max(emb.sparkSession.sparkContext.defaultParallelism, 4)
    # norms before the join: per-row work, not per-pair (with_cosine)
    e = emb.withColumn("_nb", _norm(F.col("embedding"), dim))
    q = queries.withColumn("_na", _norm(F.col("qvec"), dim))
    cross = e.repartition(par).crossJoin(F.broadcast(q)) \
             .filter(F.col("vec_id") != F.col("qid"))
    scored = with_cosine(cross, dim=dim,
                         a_norm_col="_na", b_norm_col="_nb")
    return _rank_topk(scored, k)


def infer_dim(emb: DataFrame, vec_col: str = "embedding") -> int:
    """Vector dimensionality from one corpus row (tiny driver action).

    Hyperplanes are plan-time literals, so `dim` must be a Python int
    before the plan is built. Passing a WRONG dim is worse than the
    one-row job: `_dot` null-pads the shorter side of `zip_with`, a
    null dot makes every signature bit 0, every vector lands in one
    bucket, and the 'prefiltered' join silently degenerates to
    all-pairs — the exact quadratic plan the prefilter exists to avoid.
    """
    row = emb.where(F.col(vec_col).isNotNull()
                    & (F.size(vec_col) > 0)) \
             .select(F.size(vec_col).alias("d")).first()
    if row is None or row["d"] is None or row["d"] <= 0:
        raise ValueError(f"cannot infer dim from empty {vec_col!r}")
    return int(row["d"])


def _infer_dim_or_none(emb: DataFrame,
                       vec_col: str = "embedding") -> int | None:
    """infer_dim, but None for a corpus with no non-empty vectors —
    callers that can define an empty RESULT (no usable vectors → no
    pairs above any threshold; zero-length vectors have no cosine)
    use this instead of surfacing a plan-build crash. A corpus with
    even ONE non-empty vector infers from it (the isNotNull/size>0
    filter skips degenerate rows rather than tripping over them)."""
    try:
        return infer_dim(emb, vec_col)
    except ValueError:
        return None


def size_prefilter(threshold: float, target_recall: float = 0.8,
                   max_tables: int = 32,
                   max_planes: int = 16) -> tuple[int, int, float, float]:
    """Size the banded LSH prefilter (r planes/table, T tables) so a
    pair AT the cosine threshold is recalled with probability >=
    target_recall: recall(c) = 1 - (1 - p^r)^T, p = 1 - arccos(c)/π.

    Maximizes r (selectivity) subject to the T needed for the target
    staying <= max_tables, then returns (r, T, predicted_recall_at_t,
    random_pair_collision_rate). The collision rate — recall(0), i.e.
    the fraction of UNRELATED pairs the prefilter fails to cut — is the
    honest cost readout: hyperplane LSH barely separates c = 0.35
    (p ≈ 0.61) from random (p = 0.5), so low thresholds buy bounded
    recall only at weak selectivity; at c >= 0.6 the same budget gives
    both. Callers needing tight recall at low thresholds should raise
    max_tables and accept the fanout, or use the exact path."""
    import math

    if not 0.0 < target_recall < 1.0:
        raise ValueError("target_recall must be in (0, 1)")
    p = 1.0 - math.acos(max(min(threshold, 1.0), -1.0)) / math.pi
    if p >= 1.0:
        # threshold 1.0: identical directions collide on every plane,
        # so maximal selectivity with one table recalls them all
        return max_planes, 1, 1.0, 0.5 ** max_planes
    if p <= 0.0:
        raise ValueError(
            f"threshold {threshold} (collision probability 0) cannot "
            "be recalled by hyperplane LSH; use the exact path "
            "(prefilter_planes=0)")
    best = None
    for r in range(1, max_planes + 1):
        t_needed = math.ceil(math.log(1.0 - target_recall)
                             / math.log(1.0 - p ** r))
        if t_needed <= max_tables:
            best = (r, max(t_needed, 1))
        else:
            break  # T only grows as r grows
    if best is None:
        raise ValueError(
            f"no (r, T) with T <= {max_tables} reaches recall "
            f"{target_recall} at threshold {threshold}; raise "
            "max_tables or use the exact path (prefilter_planes=0)")
    r, t = best
    recall_at_t = 1.0 - (1.0 - p ** r) ** t
    collision = 1.0 - (1.0 - 0.5 ** r) ** t
    return r, t, recall_at_t, collision


def cosine_neardup_pairs(emb: DataFrame, threshold: float = 0.35,
                         prefilter_planes: int = 8,
                         prefilter_tables: int = 8,
                         dim: int | None = None,
                         target_recall: float | None = None,
                         max_tables: int = 32) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: (id_a < id_b, cosine >= t).

    The library DEFAULT is the banded multi-table LSH prefilter (a
    pair is a candidate if it agrees on all r=prefilter_planes bits in
    ANY of T=prefilter_tables independent tables — the OR-across-tables
    scheme lsh_topk uses), then only candidates are scored exactly: a
    self equi-join on (tbl, sig) whose plan survives a 100× corpus.
    Pass prefilter_planes=0 for EXACT all-pairs scoring — inherently
    quadratic (BroadcastNestedLoopJoin), kept only as the oracle
    baseline for small corpora (round-2 verdict flipped the default;
    the quadratic path must be opted into, never stumbled into).
    BREAKING (round 3, see CHANGES.md): before the flip, default
    callers got the exact pair set; they now get the approximate
    banded one.

    Recall for a pair at cosine c is 1 - (1 - p^r)^T with
    p = 1 - arccos(c)/π; e.g. at c = 0.35 (p ≈ 0.61) r=8 gives
    p^r ≈ 2% per table, so a SINGLE table is useless near the
    threshold while T=8 tables reach ≈15% there and >99% for c ≥ 0.9.
    Pass target_recall to SIZE (r, T) from the threshold instead of
    taking the fixed 8×8: size_prefilter maximizes selectivity subject
    to recall >= target_recall AT the threshold, overriding
    prefilter_planes/prefilter_tables when given (prefilter_planes=0
    still selects the exact path; see size_prefilter for the
    recall-vs-fanout math at low thresholds).
    The cosine is rounded to 6 decimals BEFORE the threshold compare
    so inclusion is reproducible across engines.

    dim=None (default) infers the vector dimensionality from one
    corpus row before building the plan — see infer_dim for why a
    mismatched dim is silently catastrophic.
    """
    if target_recall is not None and prefilter_planes > 0:
        # max_tables caps the sized table count (only used with
        # target_recall) so size_prefilter's "raise max_tables"
        # remediation is reachable through this API
        prefilter_planes, prefilter_tables, _, _ = size_prefilter(
            threshold, target_recall, max_tables=max_tables)
    if dim is None:
        dim = _infer_dim_or_none(emb)
    a = emb.select(F.col("vec_id").alias("id_a"),
                   F.col("embedding").alias("va"))
    b = emb.select(F.col("vec_id").alias("id_b"),
                   F.col("embedding").alias("vb"))
    if prefilter_planes > 0:
        if dim is None:
            # empty / all-null corpus: no pairs by definition —
            # an empty result with the output schema, not a
            # plan-build ValueError (the exact path returns the
            # same for this input)
            return (a.join(b, F.col("id_a") < F.col("id_b"))
                    .where(F.lit(False))
                    .select("id_a", "id_b",
                            F.lit(0.0).alias("cosine")))
        # one signature-array projection per side, single equi-join on
        # (tbl, sig) — not a union of per-table joins (one scan/side)
        sa = _multi_table_sigs(a, "va", ["id_a"], dim,
                               prefilter_planes, prefilter_tables)
        sb = _multi_table_sigs(b, "vb", ["id_b"], dim,
                               prefilter_planes, prefilter_tables)
        cand = (sa.select("id_a", "tbl", "lsh_sig")
                .join(sb.select("id_b", "tbl", "lsh_sig"),
                      ["tbl", "lsh_sig"])
                .filter(F.col("id_a") < F.col("id_b"))
                .select("id_a", "id_b"))
        pairs = (cand.dropDuplicates(["id_a", "id_b"])
                 .join(a, "id_a").join(b, "id_b"))
    else:
        # quadratic baseline: spread the stream side over the cluster
        # first — a small corpus parquet is often ONE file, and a
        # 1-partition BNLJ pins the whole O(n^2) scoring on one task
        par = max(emb.sparkSession.sparkContext.defaultParallelism, 4)
        pairs = a.repartition(par).join(b, F.col("id_a") < F.col("id_b"))
    # Norms are computed per-PAIR here, NOT pre-computed per row as in
    # lsh/ivf/cosine_topk: on this path's BNLJ the pre-norm variant
    # was measured 2.7x SLOWER at the 8k-corpus scale (alternating
    # same-JVM A/B, 3 iters: per-pair [153,138,152]s vs pre-norm
    # [373,373,376]s; full-query gate 169s vs 367s) — the extra norm
    # columns on the broadcast/stream sides cost more through the
    # nested-loop consume than the redundant per-pair flops save.
    scored = with_cosine(pairs, a_col="va", b_col="vb", dim=dim)
    return (scored.filter(F.col("cosine") >= threshold)
            .select("id_a", "id_b", "cosine"))


def _hyperplanes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_planes, dim)).tolist()


def _lsh_sig_col(vec_col: str, dim: int, n_planes: int = 16,
                 seed: int = 42) -> F.Column:
    """Random-hyperplane signature as a long (bit i = sign of dot with
    plane i). Planes are deterministic literals — identical on every
    executor, no broadcast needed."""
    planes = _hyperplanes(dim, n_planes, seed)
    bits = []
    for i, p in enumerate(planes):
        plane = F.array(*[F.lit(float(v)) for v in p])
        # interpreted fold on purpose: the codegen chain duplicates the
        # 64-literal array child per term (getItem holds its own copy),
        # and at 8 tables x 8 planes x 64 dims the projection exceeded
        # the JVM's 64KB codegen method limit, fell back interpreted
        # over a ~262k-node tree, and OOM'd the driver (round-5).
        # Signature cost is per-ROW (linear), so the fold is fine here;
        # the chain is reserved for per-PAIR scoring (with_cosine).
        d = _dot(F.col(vec_col), plane)
        bits.append(F.when(d > 0, F.shiftleft(F.lit(1).cast("long"), i))
                     .otherwise(F.lit(0).cast("long")))
    sig = bits[0]
    for b in bits[1:]:
        sig = sig.bitwiseOR(b)
    return sig


def _multi_table_sigs(df: DataFrame, vec_col: str, id_cols: list[str],
                      dim: int, n_planes: int, n_tables: int,
                      seed0: int = 42) -> DataFrame:
    """All n_tables signatures in ONE pass over `df`, exploded to
    (id..., vec, tbl, lsh_sig) rows. The round-2 shape unioned one join
    per table, so the corpus was re-scanned (and re-hashed) 2×tables
    times — PLANS.md showed Scan×32 for lsh_topk. Computing the
    signature ARRAY in a single projection and posexploding it keeps
    exactly one corpus scan in the plan regardless of table count."""
    sig_arr = F.array(*[
        _lsh_sig_col(vec_col, dim, n_planes, seed=seed0 + t)
        for t in range(n_tables)])
    return (df.select(*id_cols, vec_col, sig_arr.alias("sigs"))
            .select(*id_cols, vec_col,
                    F.posexplode("sigs").alias("tbl", "lsh_sig")))


def train_ivf_centroids(emb: DataFrame, vec_col: str = "embedding",
                        n_centroids: int = 16, sample: int = 4096,
                        iters: int = 10, seed: int = 7) -> list[list[float]]:
    """Spherical k-means coarse quantizer for IVF, trained driver-side
    on a bounded sample (the classical offline-training step — the
    sample is capped, never the corpus; at 100 TB you train once on a
    few thousand vectors and persist the centroids)."""
    pdf = emb.select(vec_col).limit(sample).toPandas()
    X = np.array(pdf[vec_col].tolist(), dtype=np.float64)
    X /= np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
    rng = np.random.default_rng(seed)
    cents = X[rng.choice(len(X), size=min(n_centroids, len(X)),
                         replace=False)]
    for _ in range(iters):
        sims = X @ cents.T
        assign = sims.argmax(axis=1)
        for c in range(len(cents)):
            members = X[assign == c]
            if len(members):
                v = members.sum(axis=0)
                cents[c] = v / max(np.linalg.norm(v), 1e-12)
    return cents.tolist()


def _centroid_sims(vec_col: str, centroids: list[list[float]]) -> F.Column:
    """Array of (cos-with-centroid-i) — centroids are plan literals,
    identical on every executor, no broadcast needed."""
    cols = []
    for c in centroids:
        plane = F.array(*[F.lit(float(v)) for v in c])
        # fold, not chain: same 64KB-codegen-blowup reason as
        # _lsh_sig_col above (literal-array child duplicated per term)
        cols.append(_dot(F.col(vec_col), plane) / _norm(F.col(vec_col)))
    return F.array(*cols)


def ivf_assign(df: DataFrame, vec_col: str,
               centroids: list[list[float]]) -> DataFrame:
    """Nearest-centroid cluster id per vector (native argmax via
    sorted struct array, same idiom as textops.detect_language).

    Ties on similarity resolve to the LOWEST cid — struct(-sim, cid)
    sorted ascending — matching the DuckDB oracle's ORDER BY s DESC,
    i ASC (round-2 ADVICE: struct(sim, cid) DESC broke ties by the
    HIGHEST cid, diverging on duplicate vectors)."""
    sims = _centroid_sims(vec_col, centroids)
    pairs = F.transform(
        sims, lambda s, i: F.struct((-s).alias("neg_sim"), i.alias("cid")))
    best = F.sort_array(pairs, asc=True)[0]
    return df.withColumn("ivf_cluster", best["cid"])


def ivf_topk(emb: DataFrame, queries: DataFrame, k: int = 5,
             n_centroids: int = 16, nprobe: int = 4,
             centroids: list[list[float]] | None = None) -> DataFrame:
    """IVF approximate top-k: corpus vectors are bucketed by nearest
    centroid; each query probes its `nprobe` nearest clusters and
    re-ranks exactly inside them.

    The 100 TB shape: candidate generation is an equi-join on
    `ivf_cluster` (shuffle on a small int key, prunable if the corpus
    is stored partitioned by cluster), scanning ~nprobe/n_centroids of
    the corpus per query instead of all of it. Recall depends on how
    often a true neighbor's cluster is outside the probe set — raise
    nprobe (or n_centroids with nprobe scaled) to trade scan fraction
    for recall.
    """
    if centroids is None:
        centroids = train_ivf_centroids(emb, "embedding",
                                        n_centroids=n_centroids)
    dim = len(centroids[0]) if centroids else None
    # norms before the cluster join: per-row, not per-candidate-pair
    e = ivf_assign(emb, "embedding", centroids) \
        .withColumn("_nb", _norm(F.col("embedding"), dim))
    qsims = _centroid_sims("qvec", centroids)
    # same lowest-cid tie-break as ivf_assign (oracle parity)
    qpairs = F.transform(
        qsims, lambda s, i: F.struct((-s).alias("neg_sim"), i.alias("cid")))
    probe = F.slice(F.sort_array(qpairs, asc=True), 1, nprobe)
    q = queries.withColumn("_na", _norm(F.col("qvec"), dim)) \
               .withColumn("ivf_cluster",
                           F.explode(F.transform(probe, lambda p: p["cid"])))
    cand = e.join(F.broadcast(q), "ivf_cluster") \
            .filter(F.col("vec_id") != F.col("qid")) \
            .select("qid", "qvec", "_na", "vec_id", "embedding", "_nb")
    scored = with_cosine(cand, dim=dim,
                         a_norm_col="_na", b_norm_col="_nb")
    return _rank_topk(scored, k)


def lsh_topk(emb: DataFrame, queries: DataFrame, dim: int, k: int = 5,
             n_planes: int = 8, n_tables: int = 8) -> DataFrame:
    """Approximate top-k: candidates = corpus vectors sharing any of
    n_tables LSH signatures with the query, re-ranked exactly.

    All table signatures come from ONE corpus projection (a signature
    array, posexploded to (tbl, sig) rows) and ONE broadcast equi-join
    on (tbl, lsh_sig) — the plan holds a single corpus scan however
    many tables are configured (round-2 verdict: the per-table join
    union put Scan×32 / BroadcastHashJoin×16 in the plan)."""
    # norms ride the signature rows as extra id columns: per-row work,
    # not per-candidate-pair (with_cosine docstring)
    e = _multi_table_sigs(
        emb.withColumn("_nb", _norm(F.col("embedding"), dim)),
        "embedding", ["vec_id", "_nb"], dim, n_planes, n_tables)
    q = _multi_table_sigs(
        queries.withColumn("_na", _norm(F.col("qvec"), dim)),
        "qvec", ["qid", "_na"], dim, n_planes, n_tables)
    cands = (e.join(F.broadcast(q), ["tbl", "lsh_sig"])
             .filter(F.col("vec_id") != F.col("qid"))
             .select("qid", "qvec", "_na", "vec_id", "embedding", "_nb")
             .dropDuplicates(["qid", "vec_id"]))
    scored = with_cosine(cands, dim=dim,
                         a_norm_col="_na", b_norm_col="_nb")
    return _rank_topk(scored, k)
