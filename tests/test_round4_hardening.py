"""Round-4 hardening contracts: minhash prefilter recall bound,
signature-scratch lifecycle, held-out detector validation support.

The prefilter test answers VERDICT r3 "what's wrong #1": the
0.7·threshold signature-agreement cut in minhash_dup_pairs drops a
candidate before exact verification; near-threshold true pairs are the
ones at risk. We plant pairs with exact shingle Jaccard in
[threshold, threshold+0.1] across several seeds and assert the
pipeline returns the SAME pair set with the prefilter on
(prefilter_frac=0.7) and off (prefilter_frac=0) — zero drops
attributable to the cut, on identical signatures.
"""

import os
import random
import string
import tempfile

import pytest
from pyspark.sql import functions as F


def _py_shingles(text: str, k: int = 5) -> set:
    """Python mirror of textops._shingles: lowercase, substr(i, 5) for
    i in 1..max(n-k+1, 1) — tail shingles shorter than k included,
    matching Spark's substr clamping."""
    t = text.lower()
    n = len(t)
    hi = max(n - (k - 1), 1)
    return {t[i - 1:i - 1 + k] for i in range(1, hi + 1)}


def _jac(a: str, b: str) -> float:
    sa, sb = _py_shingles(a), _py_shingles(b)
    if not sa and not sb:
        return 0.0
    inter = len(sa & sb)
    return inter / (len(sa) + len(sb) - inter)


def _near_threshold_pairs(seed: int, threshold: float,
                          want: int = 8) -> list:
    """Deterministically mutate random word texts until `want` pairs
    land with exact shingle Jaccard in [threshold, threshold+0.1]."""
    rng = random.Random(seed)
    vocab = ["".join(rng.choices(string.ascii_lowercase,
                                 k=rng.randint(3, 9)))
             for _ in range(400)]
    pairs = []
    attempts = 0
    while len(pairs) < want and attempts < 4000:
        attempts += 1
        base = rng.choices(vocab, k=rng.randint(25, 45))
        rate = rng.uniform(0.20, 0.55)
        var = [w if rng.random() > rate else rng.choice(vocab)
               for w in base]
        a, b = " ".join(base), " ".join(var)
        if threshold <= _jac(a, b) <= threshold + 0.10:
            pairs.append((a, b))
    return pairs


class TestMinhashPrefilterRecall:
    @pytest.mark.parametrize("seed", [11, 37, 101])
    def test_prefilter_drops_nothing_near_threshold(self, spark, seed):
        from tstoken.textops import minhash_dup_pairs

        threshold = 0.5
        planted = _near_threshold_pairs(seed, threshold)
        assert len(planted) >= 6, "generator failed to plant pairs"
        rows = []
        for i, (a, b) in enumerate(planted):
            rows.append((100 * seed + 2 * i, a, "en", "s1"))
            rows.append((100 * seed + 2 * i + 1, b, "en", "s1"))
        docs = spark.createDataFrame(
            rows, "doc_id long, text string, lang string, source string")

        def pairset(prefilter_frac):
            got = minhash_dup_pairs(
                docs, threshold=threshold,
                prefilter_frac=prefilter_frac).collect()
            return {(r.doc_a, r.doc_b, round(r.jaccard, 6)) for r in got}

        with_cut = pairset(0.7)
        without_cut = pairset(0.0)
        # the estimate cut must not change the verified output at all
        assert with_cut == without_cut
        # and the planted near-threshold pairs do reach the output in
        # bulk (banding at j≈0.5, b=21/r=3 catches ≈94% per pair, so
        # demanding >half across ≥6 pairs never flakes)
        assert len(without_cut) >= len(planted) // 2


class TestPrefilterSizing:
    def test_sizing_meets_target_within_budget(self):
        import math
        from tstoken.simsearch import size_prefilter
        for threshold in (0.35, 0.6, 0.8, 0.9):
            r, t, recall, collision = size_prefilter(threshold, 0.8)
            p = 1 - math.acos(threshold) / math.pi
            assert recall >= 0.8
            assert t <= 32 and 1 <= r <= 16
            assert abs(recall - (1 - (1 - p ** r) ** t)) < 1e-12
            # r is maximal: one more plane would blow the table budget
            # (unless already at the plane cap)
            if r < 16:
                pr1 = p ** (r + 1)
                t1 = math.ceil(math.log(0.2) / math.log(1 - pr1))
                assert t1 > 32

    def test_higher_threshold_buys_selectivity(self):
        from tstoken.simsearch import size_prefilter
        r_low, _, _, col_low = size_prefilter(0.35, 0.8)
        r_high, _, _, col_high = size_prefilter(0.9, 0.8)
        assert r_high > r_low
        # random-pair collision rate (prefilter leakage) must shrink
        assert col_high < col_low

    def test_infeasible_raises(self):
        from tstoken.simsearch import size_prefilter
        with pytest.raises(ValueError, match="max_tables"):
            size_prefilter(0.05, 0.999, max_tables=2)

    def test_boundary_thresholds(self):
        from tstoken.simsearch import size_prefilter
        # threshold 1.0: p=1, trivially recalled at max selectivity
        r, t, recall, collision = size_prefilter(1.0, 0.9)
        assert (r, t, recall) == (16, 1, 1.0)
        assert collision == 0.5 ** 16
        # threshold -1: p=0, unreachable by hyperplane LSH — a clear
        # error, not a ZeroDivisionError
        with pytest.raises(ValueError, match="exact path"):
            size_prefilter(-1.0, 0.9)

    def test_prefilter_frac_validated(self, spark):
        from tstoken.textops import minhash_dup_pairs
        docs = spark.createDataFrame(
            [(1, "abcdefgh", "en", "s1")],
            "doc_id long, text string, lang string, source string")
        with pytest.raises(ValueError, match="prefilter_frac"):
            minhash_dup_pairs(docs, prefilter_frac=2.0)
        with pytest.raises(ValueError, match="prefilter_frac"):
            minhash_dup_pairs(docs, prefilter_frac=-0.5)


    def test_target_recall_end_to_end(self, spark):
        import numpy as np
        from tstoken.simsearch import cosine_neardup_pairs
        rng = np.random.default_rng(7)
        rows = []
        # 20 planted near-dup pairs (cosine ~0.85-0.95) + 60 random
        for i in range(20):
            v = rng.standard_normal(16)
            w = v + rng.standard_normal(16) * 0.35
            rows.append((2 * i, [float(x) for x in v]))
            rows.append((2 * i + 1, [float(x) for x in w]))
        for i in range(60):
            rows.append((100 + i,
                         [float(x) for x in rng.standard_normal(16)]))
        emb = spark.createDataFrame(
            rows, "vec_id long, embedding array<double>")
        exact = {(r.id_a, r.id_b) for r in cosine_neardup_pairs(
            emb, threshold=0.8, prefilter_planes=0).collect()}
        assert len(exact) >= 10  # the plant worked
        banded = {(r.id_a, r.id_b) for r in cosine_neardup_pairs(
            emb, threshold=0.8, target_recall=0.95).collect()}
        assert banded <= exact  # prefilter can only drop, never add
        recall = len(banded & exact) / len(exact)
        # per-pair recall >=0.95 AT the threshold and higher above it;
        # 0.8 leaves deterministic-seed headroom
        assert recall >= 0.8, (recall, len(exact))


class TestV1TagAmbiguityGuard:
    def test_v2_wire_under_v1_tag_refuses_not_garbage(self, spark):
        # one intermediate build wrote v2 wire bytes under the old
        # tag; the v1 decoder must detect the mis-framing (decoded
        # timestamps go backwards or overrun) and raise, never junk
        import numpy as np
        from tstoken import compress
        ts = np.array([1_700_000_000 + 60 * i for i in range(400)],
                      dtype=np.int64)
        vals = np.cos(np.arange(400) * 0.11) * 10
        row = {"source": "ambig", "chunk": 0,
               "ts_block": compress.encode_timestamps(ts),  # v2 wire
               "val_block": compress.encode_values(vals),
               "n_points": 400, "codec": compress.CODEC_V1}  # old tag
        df = spark.createDataFrame([row], schema=compress.BLOCK_SCHEMA)
        # mis-framing surfaces as either a block overrun or a
        # monotonicity violation — both carry the not-v1-framed message
        with pytest.raises(Exception, match="not v1-framed"):
            compress.decompress_blocks(
                compress.recompress_v1_blocks(df)).count()
        with pytest.raises(Exception, match="not v1-framed"):
            compress.recompress_v1_blocks(df).count()

    def test_equal_timestamps_are_legal_v1(self, spark):
        # dod 0 (repeated epoch second) is a legal v1 stream — the
        # mis-framing guard must be non-strict and not reject it
        import numpy as np
        from test_engine_spark import TestCompressSpark
        from tstoken.compress import decode_timestamps_v1
        ts = np.array([100, 100, 160, 160, 220], dtype=np.int64)
        blk = TestCompressSpark._encode_timestamps_v1(ts)
        assert (decode_timestamps_v1(blk) == ts).all()


class TestSigScratchLifecycle:
    def test_cleanup_sigs_removes_default_tables(self, spark):
        from tstoken import textops

        docs = spark.createDataFrame(
            [(1, "the cat sat on the mat here", "en", "s1"),
             (2, "the cat sat on the mat there", "en", "s1"),
             (3, "completely unrelated sentence text", "en", "s1")],
            "doc_id long, text string, lang string, source string")
        # two sequential default-io calls, each fully consumed
        textops.minhash_dup_pairs(docs).collect()
        textops.minhash_dup_pairs(docs).collect()
        scratch = os.path.join(tempfile.gettempdir(),
                               f"tstoken_sigs_{os.getpid()}")
        live = [d for d in os.listdir(scratch)
                if d.startswith("minhash_sigs_")]
        assert len(live) >= 2
        removed = textops.cleanup_sigs()
        assert removed >= 2
        left = [d for d in os.listdir(scratch)
                if d.startswith("minhash_sigs_")] \
            if os.path.isdir(scratch) else []
        assert left == []
        # and the default path still works after a cleanup
        textops.minhash_dup_pairs(docs).collect()
