"""Property-based tests (hypothesis) for the pure kernels.

The pytest suite pins known fixtures; these generate adversarial
inputs for the invariants that must hold for EVERY input at 100 TB:
codec round-trips (a single mis-decoded block corrupts a tier
restore), PNG structural validity (every builder output must decode),
the simhash pigeonhole recall contract, and the decoder error
contract (corrupt bytes raise only the documented exception types).
"""

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st
from test_imagecodec import (_prog_restart_stream, _rescan_baseline,
                             _smooth_rgb)

from tstoken.compress import (decode_timestamps, decode_values,
                              encode_timestamps, encode_values)
from tstoken.imagecodec import jpeg_decode, jpeg_encode, png_decode
from tstoken.multimodal import (decode_audio, encode_video, encode_wav,
                                sample_video_frames)
from tstoken.plotting import png_decode_size, png_encode

# bounded float64s that survive the codec's bit-level transport
# (NaN excluded: the tiers never store NaN — gap-fill materializes
# explicit zero rows instead)
_vals = st.lists(
    st.floats(min_value=-1e12, max_value=1e12,
              allow_nan=False, allow_infinity=False, width=64),
    min_size=1, max_size=300)

# epoch-second timestamps, unsorted allowed (encoder takes them as
# given; rollup always feeds sorted, but the codec must not corrupt
# arbitrary deltas either)
_ts = st.lists(st.integers(min_value=0, max_value=2 ** 40),
               min_size=1, max_size=300)


class TestCodecRoundTrip:
    @given(_vals)
    @settings(max_examples=200, deadline=None)
    def test_values_roundtrip_exact(self, vals):
        arr = np.asarray(vals, dtype=np.float64)
        out = decode_values(encode_values(arr))
        # bit-exact, not allclose: Gorilla XOR transports the original
        # IEEE-754 words or it is broken
        assert arr.tobytes() == out.tobytes()

    @given(_ts)
    @settings(max_examples=200, deadline=None)
    def test_timestamps_roundtrip_exact(self, ts):
        arr = np.asarray(ts, dtype=np.int64)
        out = decode_timestamps(encode_timestamps(arr))
        assert (arr == out).all()

    @given(st.integers(min_value=0, max_value=2 ** 52),
           st.integers(min_value=1, max_value=10 ** 6),
           st.integers(min_value=2, max_value=64))
    @settings(max_examples=100, deadline=None)
    def test_regular_grid_timestamps(self, start, step, n):
        # the actual tier shape: a regular grid (delta-of-delta ~ 0)
        arr = start + step * np.arange(n, dtype=np.int64)
        out = decode_timestamps(encode_timestamps(arr))
        assert (arr == out).all()


class TestPngProperty:
    @given(st.integers(min_value=1, max_value=40),
           st.integers(min_value=1, max_value=40),
           st.integers(min_value=0, max_value=2 ** 32 - 1))
    @settings(max_examples=60, deadline=None)
    def test_any_rgb_array_encodes_decodably(self, w, h, seed):
        rng = np.random.default_rng(seed)
        rgb = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
        raw = png_encode(rgb)
        assert png_decode_size(raw) == (w, h)


class TestSimhashRecallProperty:
    @given(st.integers(min_value=0, max_value=2 ** 63 - 1),
           st.integers(min_value=1, max_value=8),
           st.integers(min_value=0, max_value=2 ** 32 - 1))
    @settings(max_examples=100, deadline=None)
    def test_pigeonhole_chunking_covers_distance(self, base, max_h,
                                                 seed):
        """For ANY pair at hamming <= max_h, at least one of the
        max_h+1 chunks must be untouched (the blocking guarantee the
        band join relies on)."""
        rng = np.random.default_rng(seed)
        flip_bits = rng.choice(64, size=max_h, replace=False)
        other = base
        for b in flip_bits:
            other ^= 1 << int(b)
        n_chunks = max_h + 1
        bounds = [(c * 64) // n_chunks for c in range(n_chunks)] + [64]
        shared = False
        for c in range(n_chunks):
            lo, hi = bounds[c], bounds[c + 1]
            mask = ((1 << (hi - lo)) - 1) << lo
            if (base & mask) == (other & mask):
                shared = True
        assert shared


def _decoder_corpus() -> list:
    """(decoder, valid payload) pairs: every JPEG mode the decoder
    has (baseline and progressive, gray and RGB, with and without
    DRI), PNG, WAV, TSVC and both compressed-block codecs."""
    rgb = _smooth_rgb((24, 40, 3), 41)
    gray = rgb[..., 1]
    ts = 1_700_000_000 + np.cumsum(np.r_[0, np.full(40, 60), 7, 3, 900])
    return ([(png_decode, png_encode(rgb))]
            + [(jpeg_decode, jpeg_encode(img, 80, progressive=prog))
               for img in (rgb, gray) for prog in (False, True)]
            + [(jpeg_decode, _rescan_baseline(rgb, dri=2)),
               (jpeg_decode, _rescan_baseline(gray, per_component=True,
                                              dri=3)),
               (jpeg_decode, _prog_restart_stream()),
               (decode_audio, encode_wav(np.sin(np.arange(64) / 3.0))),
               (sample_video_frames, encode_video([rgb[:4, :5], gray[:3]])),
               (decode_timestamps, encode_timestamps(ts)),
               (decode_values, encode_values(np.cos(ts / 7e3) * 1e3))])


_CORPUS = _decoder_corpus()


class TestDecoderErrorContract:
    def test_corpus_is_valid(self):
        for decode, payload in _CORPUS:
            decode(payload)

    @given(st.data())
    @settings(max_examples=400, deadline=None, derandomize=True)
    def test_corrupt_payloads_raise_only_documented_errors(self, data):
        """Up to 3 byte mutations and/or a truncation of a valid payload
        may decode to garbage, but the only exceptions that may escape
        are ValueError (malformed) and NotImplementedError (out of
        scope) — the `multimodal._featurize` and tier-restore
        contract."""
        decode, payload = data.draw(st.sampled_from(_CORPUS))
        buf = bytearray(payload)
        for _ in range(data.draw(st.integers(0, 3))):
            buf[data.draw(st.integers(0, len(buf) - 1))] = \
                data.draw(st.integers(0, 255))
        if data.draw(st.booleans()):
            buf = buf[:data.draw(st.integers(0, len(buf) - 1))]
        try:
            decode(bytes(buf))
        except (ValueError, NotImplementedError):
            pass
