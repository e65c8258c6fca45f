"""Pure-NumPy PNG/JPEG codec tests (round 5).

Strategy: (a) PNG round-trips exactly against the repo's own encoder
(`plotting.png_encode`, filter 0) plus hand-filtered scanlines for
filters 1-4 and every supported color type; (b) JPEG is pinned by a
HAND-CONSTRUCTED bitstream derived from ITU-T T.81 constants — a
shared encoder/decoder misunderstanding (wrong zigzag, wrong Huffman
canonicalization, wrong EXTEND) cannot cancel out against it — plus
encoder round-trips with error bounds; (c) the error contract
(ValueError for malformed, NotImplementedError for out-of-scope
in-spec variants) that `multimodal._featurize` relies on."""

import struct
import zlib

import numpy as np
import pytest

from tstoken.imagecodec import (_HUFF_AC_CHROMA, _HUFF_AC_LUMA,
                                _HUFF_DC_CHROMA, _HUFF_DC_LUMA, _Q_CHROMA,
                                _Q_LUMA, _ZIGZAG, _BitWriter,
                                _build_canonical, _encode_block,
                                _encode_tables, _quality_scale,
                                _ycc_planes, jpeg_decode, jpeg_encode,
                                png_decode)
from tstoken.multimodal import decode_image, image_feature
from tstoken.plotting import png_encode


def _chunk(ctype: bytes, body: bytes) -> bytes:
    return (struct.pack(">I", len(body)) + ctype + body
            + struct.pack(">I", zlib.crc32(ctype + body)))


def _make_png(img: np.ndarray, color: int, filters: list[int],
              plte: bytes = b"", depth: int = 8,
              interlace: int = 0) -> bytes:
    """Reference PNG writer: applies the requested filter per scanline
    FORWARD (so png_decode must invert it)."""
    h = img.shape[0]
    flat = img.reshape(h, -1).astype(np.int32)
    ch = flat.shape[1] // img.shape[1]
    raw = bytearray()
    prev = np.zeros(flat.shape[1], dtype=np.int32)
    for y in range(h):
        f = filters[y % len(filters)]
        line, rec = flat[y], flat[y]
        if f == 0:
            out = line
        elif f == 1:
            a = np.concatenate([np.zeros(ch, np.int32), rec[:-ch]])
            out = (line - a) % 256
        elif f == 2:
            out = (line - prev) % 256
        elif f == 3:
            a = np.concatenate([np.zeros(ch, np.int32), rec[:-ch]])
            out = (line - (a + prev) // 2) % 256
        else:  # Paeth
            a = np.concatenate([np.zeros(ch, np.int32), rec[:-ch]])
            c = np.concatenate([np.zeros(ch, np.int32), prev[:-ch]])
            p = a + prev - c
            pa, pb, pc = np.abs(p - a), np.abs(p - prev), np.abs(p - c)
            pred = np.where((pa <= pb) & (pa <= pc), a,
                            np.where(pb <= pc, prev, c))
            out = (line - pred) % 256
        raw.append(f)
        raw.extend(out.astype(np.uint8).tobytes())
        prev = rec
    ihdr = struct.pack(">IIBBBBB", img.shape[1], h, depth, color, 0, 0,
                       interlace)
    chunks = _chunk(b"IHDR", ihdr)
    if plte:
        chunks += _chunk(b"PLTE", plte)
    chunks += _chunk(b"IDAT", zlib.compress(bytes(raw)))
    chunks += _chunk(b"IEND", b"")
    return b"\x89PNG\r\n\x1a\n" + chunks


def _rows_bytes(samples: np.ndarray, depth: int) -> np.ndarray:
    """(h, w, ch) samples -> (h, stride) row bytes for the wire."""
    h, w, ch = samples.shape
    if depth == 8:
        return samples.reshape(h, -1).astype(np.uint8)
    if depth == 16:
        return np.frombuffer(
            samples.astype(">u2").tobytes(), np.uint8).reshape(h, -1)
    # sub-8-bit: MSB-first bit packing, zero pad to the byte boundary
    bits = ((samples.reshape(h, -1)[:, :, None]
             >> np.arange(depth - 1, -1, -1)) & 1).reshape(h, -1)
    return np.packbits(bits.astype(np.uint8), axis=1)


def _filter_image(samples: np.ndarray, depth: int,
                  filters: list[int]) -> bytes:
    """Forward-filter one (sub-)image's scanlines (spec 6.2-6.6)."""
    h, _, ch = samples.shape
    rows = _rows_bytes(samples, depth).astype(np.int32)
    bpp = max(1, ch * depth // 8)
    raw = bytearray()
    prev = np.zeros(rows.shape[1], dtype=np.int32)
    for y in range(h):
        f = filters[y % len(filters)]
        line = rows[y]
        shift = np.concatenate([np.zeros(bpp, np.int32), line[:-bpp]]) \
            if rows.shape[1] > bpp else np.zeros_like(line)
        cshift = np.concatenate([np.zeros(bpp, np.int32), prev[:-bpp]]) \
            if rows.shape[1] > bpp else np.zeros_like(line)
        if f == 0:
            out = line
        elif f == 1:
            out = (line - shift) % 256
        elif f == 2:
            out = (line - prev) % 256
        elif f == 3:
            out = (line - (shift + prev) // 2) % 256
        else:
            p = shift + prev - cshift
            pa = np.abs(p - shift)
            pb = np.abs(p - prev)
            pc = np.abs(p - cshift)
            pred = np.where((pa <= pb) & (pa <= pc), shift,
                            np.where(pb <= pc, prev, cshift))
            out = (line - pred) % 256
        raw.append(f)
        raw.extend(out.astype(np.uint8).tobytes())
        prev = line
    return bytes(raw)


_ADAM7 = ((0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
          (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2))


def _make_png_full(samples: np.ndarray, color: int, depth: int,
                   filters: list[int] = (0,), interlace: int = 0,
                   plte: bytes = b"") -> bytes:
    """Reference writer for EVERY depth/interlace combination (the
    original _make_png predates 16-bit/sub-8-bit/Adam7 support)."""
    if samples.ndim == 2:
        samples = samples[:, :, None]
    h, w, _ = samples.shape
    filters = list(filters)
    if interlace == 0:
        raw = _filter_image(samples, depth, filters)
    else:
        raw = b"".join(
            _filter_image(samples[y0::ys, x0::xs], depth, filters)
            for x0, y0, xs, ys in _ADAM7
            if samples[y0::ys, x0::xs].shape[0]
            and samples[y0::ys, x0::xs].shape[1])
    ihdr = struct.pack(">IIBBBBB", w, h, depth, color, 0, 0, interlace)
    chunks = _chunk(b"IHDR", ihdr)
    if plte:
        chunks += _chunk(b"PLTE", plte)
    chunks += _chunk(b"IDAT", zlib.compress(raw))
    chunks += _chunk(b"IEND", b"")
    return b"\x89PNG\r\n\x1a\n" + chunks


class TestPngDecode:
    def test_roundtrip_against_repo_encoder(self):
        rng = np.random.default_rng(7)
        img = rng.integers(0, 256, (37, 53, 3), dtype=np.uint8)
        assert np.array_equal(png_decode(png_encode(img)), img)

    @pytest.mark.parametrize("filters", [[0], [1], [2], [3], [4],
                                         [0, 1, 2, 3, 4]])
    def test_all_filters_rgb(self, filters):
        rng = np.random.default_rng(sum(filters))
        img = rng.integers(0, 256, (11, 9, 3), dtype=np.uint8)
        assert np.array_equal(
            png_decode(_make_png(img, 2, filters)), img)

    def test_gray(self):
        img = (np.add.outer(np.arange(12), np.arange(17)) % 256) \
            .astype(np.uint8)
        assert np.array_equal(png_decode(_make_png(img, 0, [1, 4])), img)

    def test_palette(self):
        rng = np.random.default_rng(3)
        idx = rng.integers(0, 4, (8, 8), dtype=np.uint8)
        plte = bytes(range(12))  # 4 RGB entries
        dec = png_decode(_make_png(idx, 3, [0], plte=plte))
        pal = np.frombuffer(plte, np.uint8).reshape(4, 3)
        assert np.array_equal(dec, pal[idx])

    def test_rgba_and_gray_alpha(self):
        rng = np.random.default_rng(5)
        rgba = rng.integers(0, 256, (6, 7, 4), dtype=np.uint8)
        assert np.array_equal(png_decode(_make_png(rgba, 6, [2])), rgba)
        ga = rng.integers(0, 256, (6, 7, 2), dtype=np.uint8)
        dec = png_decode(_make_png(ga, 4, [1]))
        assert dec.shape == (6, 7, 4)
        assert np.array_equal(dec[..., 0], ga[..., 0])  # gray -> RGB
        assert np.array_equal(dec[..., 3], ga[..., 1])  # alpha kept

    def test_crc_mismatch_raises(self):
        img = np.zeros((4, 4, 3), np.uint8)
        b = bytearray(png_encode(img))
        b[-5] ^= 0xFF  # corrupt IEND CRC region / IDAT tail
        with pytest.raises(ValueError):
            png_decode(bytes(b))

    @pytest.mark.parametrize("shape,color", [
        ((13, 11, 3), 2), ((9, 16, 4), 6), ((8, 8, 1), 0),
        ((1, 1, 3), 2), ((2, 3, 3), 2), ((7, 1, 1), 0)])
    def test_adam7_matches_sequential(self, shape, color):
        """Adam7 decode == the same pixels non-interlaced, incl. odd
        dimensions with empty/partial passes, all five filters."""
        rng = np.random.default_rng(shape[0] * 31 + shape[1])
        img = rng.integers(0, 256, shape, dtype=np.uint8)
        want = png_decode(_make_png_full(img, color, 8, [0]))
        got = png_decode(_make_png_full(img, color, 8,
                                        [0, 1, 2, 3, 4], interlace=1))
        assert np.array_equal(got, want)

    @pytest.mark.parametrize("interlace", [0, 1])
    def test_16bit_decodes_high_byte(self, interlace):
        rng = np.random.default_rng(11)
        img16 = rng.integers(0, 1 << 16, (6, 5, 3), dtype=np.uint16)
        dec = png_decode(_make_png_full(img16, 2, 16, [0, 2, 1, 4],
                                        interlace=interlace))
        assert np.array_equal(dec, (img16 >> 8).astype(np.uint8))

    def test_16bit_rgba_and_gray(self):
        rng = np.random.default_rng(13)
        rgba = rng.integers(0, 1 << 16, (4, 7, 4), dtype=np.uint16)
        assert np.array_equal(png_decode(_make_png_full(rgba, 6, 16, [3])),
                              (rgba >> 8).astype(np.uint8))
        gray = rng.integers(0, 1 << 16, (5, 3), dtype=np.uint16)
        assert np.array_equal(png_decode(_make_png_full(gray, 0, 16, [1])),
                              (gray >> 8).astype(np.uint8))

    @pytest.mark.parametrize("depth,scale", [(1, 255), (2, 85), (4, 17)])
    def test_sub8bit_gray_scales_to_full_range(self, depth, scale):
        rng = np.random.default_rng(depth)
        img = rng.integers(0, 1 << depth, (9, 13), dtype=np.uint8)
        dec = png_decode(_make_png_full(img, 0, depth, [0, 2]))
        assert np.array_equal(dec, (img * scale).astype(np.uint8))
        # and interlaced
        dec7 = png_decode(_make_png_full(img, 0, depth, [0], interlace=1))
        assert np.array_equal(dec7, (img * scale).astype(np.uint8))

    def test_sub8bit_palette_indexes_unscaled(self):
        rng = np.random.default_rng(21)
        idx = rng.integers(0, 4, (6, 11), dtype=np.uint8)
        plte = bytes(range(12))
        dec = png_decode(_make_png_full(idx, 3, 2, [0], plte=plte))
        pal = np.frombuffer(plte, np.uint8).reshape(4, 3)
        assert np.array_equal(dec, pal[idx])

    def test_illegal_depth_color_combo_raises_valueerror(self):
        img = np.zeros((4, 4), np.uint8)
        with pytest.raises(ValueError):
            png_decode(_make_png_full(img, 3, 16))   # 16-bit palette
        with pytest.raises(ValueError):
            png_decode(_make_png_full(
                np.zeros((4, 4, 3), np.uint8), 2, 4))  # 4-bit RGB

    def test_truncated_raises_valueerror(self):
        payload = png_encode(np.zeros((8, 8, 3), np.uint8))
        with pytest.raises(ValueError):
            png_decode(payload[:40])

    def test_malformed_chunk_bodies_raise_valueerror(self):
        """Wrong-length IHDR / non-multiple-of-3 PLTE with VALID CRCs
        must fail the documented ValueError contract, not leak
        struct/NumPy errors to callers."""
        bad_ihdr = (b"\x89PNG\r\n\x1a\n"
                    + _chunk(b"IHDR", struct.pack(">IIBBBB", 4, 4, 8, 0,
                                                  0, 0))  # 12 bytes
                    + _chunk(b"IDAT", zlib.compress(b"\x00" * 20))
                    + _chunk(b"IEND", b""))
        with pytest.raises(ValueError):
            png_decode(bad_ihdr)
        img = np.zeros((2, 2), np.uint8)
        good = _make_png_full(img, 3, 8, plte=bytes(range(6)))
        bad_plte = good.replace(_chunk(b"PLTE", bytes(range(6))),
                                _chunk(b"PLTE", bytes(range(7))))
        with pytest.raises(ValueError):
            png_decode(bad_plte)


def _seg(m: int, body: bytes) -> bytes:
    return struct.pack(">BBH", 0xFF, m, len(body) + 2) + body


def _minimal_gray_jpeg(entropy: bytes, w: int = 8, h: int = 8,
                       dri: int = 0) -> bytes:
    """Single-component baseline JPEG from T.81 Annex K constants."""
    qz = _Q_LUMA[_ZIGZAG]
    parts = [b"\xff\xd8",
             _seg(0xDB, bytes([0]) + bytes(int(v) for v in qz)),
             _seg(0xC0, struct.pack(">BHHB", 8, h, w, 1)
                  + bytes([1, 0x11, 0])),
             _seg(0xC4, bytes([0x00]) + bytes(_HUFF_DC_LUMA[0])
                  + bytes(_HUFF_DC_LUMA[1])),
             _seg(0xC4, bytes([0x10]) + bytes(_HUFF_AC_LUMA[0])
                  + bytes(_HUFF_AC_LUMA[1]))]
    if dri:
        parts.append(_seg(0xDD, struct.pack(">H", dri)))
    parts.append(_seg(0xDA, bytes([1, 1, 0x00]) + b"\x00\x3f\x00"))
    parts.append(entropy)
    parts.append(b"\xff\xd9")
    return b"".join(parts)


def _rescan_baseline(img: np.ndarray, per_component: bool = False,
                     dri: int = 0) -> bytes:
    """jpeg_encode(img) (quality 90) with its entropy data re-coded by
    the encoder's own block coder: one non-interleaved scan per
    component and/or DRI=dri with an RSTn every dri MCUs. With neither
    it reproduces jpeg_encode(img) byte for byte."""
    base = jpeg_encode(img)
    parts = [base[:base.index(b"\xff\xda")]]
    if dri:
        parts.append(_seg(0xDD, struct.pack(">H", dri)))
    planes = _ycc_planes(np.asarray(img))
    enc = _encode_tables()
    tabs = [(enc["dcl"], enc["acl"]), (enc["dcc"], enc["acc"])]
    qs = [_quality_scale(q, 90)[_ZIGZAG].astype(np.float64)
          for q in (_Q_LUMA, _Q_CHROMA)]
    nbx = planes[0].shape[1] // 8
    nblocks = planes[0].size // 64
    comps = list(range(len(planes)))
    for group in ([[c] for c in comps] if per_component else [comps]):
        parts.append(_seg(0xDA, bytes([len(group)]) + b"".join(
            bytes([c + 1, 0x11 if c else 0x00]) for c in group)
            + b"\x00\x3f\x00"))
        for n in range(nblocks):
            if n % (dri or nblocks) == 0:
                if n:
                    bw.flush()
                    parts.append(bytes(bw.out)
                                 + bytes([0xFF, 0xD0 + (n // dri - 1) % 8]))
                bw, preds = _BitWriter(), [[0] for _ in planes]
            by, bx = divmod(n, nbx)
            for c in group:
                _encode_block(bw, planes[c][by * 8:by * 8 + 8,
                                            bx * 8:bx * 8 + 8],
                              qs[min(c, 1)], preds[c], *tabs[min(c, 1)])
        bw.flush()
        parts.append(bytes(bw.out))
    parts.append(b"\xff\xd9")
    return b"".join(parts)


def _smooth_rgb(shape: tuple, seed: int) -> np.ndarray:
    rng = np.random.default_rng(seed)
    c = rng.integers(0, 256, shape).astype(float)
    for _ in range(3):
        c[1:-1, 1:-1] = (c[:-2, 1:-1] + c[2:, 1:-1] + c[1:-1, :-2]
                         + c[1:-1, 2:] + c[1:-1, 1:-1]) / 5
    return c.astype(np.uint8)


class TestJpegDecodeSpecFixture:
    """Hand-assembled bitstreams — independent of jpeg_encode."""

    def test_dc_only_block(self):
        # DC category 3 = code '100' (canonical Annex K DC-luma),
        # magnitude bits '100' = +4; EOB = '1010'; pad with 1s.
        # Stored DC 4 x q0 16 = 64; IDCT of DC-only block is flat
        # 64/8 = 8; +128 level shift = 136 everywhere.
        img = jpeg_decode(_minimal_gray_jpeg(bytes([0b10010010,
                                                    0b10111111])))
        assert img.shape == (8, 8)
        assert img.min() == img.max() == 136

    def test_negative_dc_extend(self):
        # category 3, bits '011' = EXTEND -> -4: flat 128 - 8 = 120
        img = jpeg_decode(_minimal_gray_jpeg(bytes([0b10001110,
                                                    0b10111111])))
        assert img.min() == img.max() == 120

    def test_restart_marker_resets_dc_predictor(self):
        # two MCUs (16x8), DRI=1, RST0 between; both code diff +4.
        # With the predictor reset both blocks are 136; without the
        # reset the second would be 128 + (4+4)*16/8 = 144.
        mcu = bytes([0b10010010, 0b10111111])
        entropy = mcu + b"\xff\xd0" + mcu
        img = jpeg_decode(_minimal_gray_jpeg(entropy, w=16, dri=1))
        assert img.shape == (8, 16)
        assert img.min() == img.max() == 136

    def test_ac_coefficient_and_zigzag(self):
        # DC cat 0 ('00'), then AC (run 0, size 1): luma-AC symbol
        # 0x01 = code '00', magnitude bit '1' = +1 at ZIGZAG pos 1 =
        # natural (0,1); q[zig 1] = 11. EOB '1010'. The top row varies
        # as 128 + 11 * A[1,x] * (1/sqrt 8), constant down columns.
        img = jpeg_decode(_minimal_gray_jpeg(bytes([0b00001101,
                                                    0b00111111])))
        a1 = 0.5 * np.cos((2 * np.arange(8) + 1) * np.pi / 16)
        expect = np.clip(np.round(128 + 11 * a1 / np.sqrt(8) + 0), 0, 255)
        assert np.array_equal(img, np.tile(expect, (8, 1)))

    def test_chroma_subsampling_420(self):
        # 4:2:0 flat-color 16x16: Y DC +4 in the first of four Y
        # blocks (then three diff-0), Cb/Cr DC 0 -> uniform gray 136.
        enc_dc = {v: k for k, v in
                  _build_canonical(*_HUFF_DC_LUMA).items()}
        enc_dcc = {v: k for k, v in
                   _build_canonical(*_HUFF_DC_CHROMA).items()}
        enc_acc = {v: k for k, v in
                   _build_canonical(*_HUFF_AC_CHROMA).items()}

        def code(table, sym):
            ln, c = table[sym]
            return format(c, f"0{ln}b")

        # each block is DC followed by its ACs (EOB here); MCU order:
        # Y1 Y2 Y3 Y4 Cb Cr
        bits = code(enc_dc, 3) + "100" + "1010"          # Y1: +4, EOB
        for _ in range(3):                               # Y2-4: diff 0
            bits += code(enc_dc, 0) + "1010"
        for _ in range(2):                               # Cb, Cr: 0
            bits += code(enc_dcc, 0) + code(enc_acc, 0x00)
        bits += "1" * (-len(bits) % 8)
        entropy = bytes(int(bits[i:i + 8], 2)
                        for i in range(0, len(bits), 8))
        qz = bytes(int(v) for v in _Q_LUMA[_ZIGZAG])
        parts = [b"\xff\xd8",
                 _seg(0xDB, bytes([0]) + qz),
                 _seg(0xDB, bytes([1]) + qz),
                 _seg(0xC0, struct.pack(">BHHB", 8, 16, 16, 3)
                      + bytes([1, 0x22, 0, 2, 0x11, 1, 3, 0x11, 1])),
                 _seg(0xC4, bytes([0x00]) + bytes(_HUFF_DC_LUMA[0])
                      + bytes(_HUFF_DC_LUMA[1])),
                 _seg(0xC4, bytes([0x10]) + bytes(_HUFF_AC_LUMA[0])
                      + bytes(_HUFF_AC_LUMA[1])),
                 _seg(0xC4, bytes([0x01]) + bytes(_HUFF_DC_CHROMA[0])
                      + bytes(_HUFF_DC_CHROMA[1])),
                 _seg(0xC4, bytes([0x11]) + bytes(_HUFF_AC_CHROMA[0])
                      + bytes(_HUFF_AC_CHROMA[1])),
                 _seg(0xDA, bytes([3, 1, 0x00, 2, 0x11, 3, 0x11])
                      + b"\x00\x3f\x00"),
                 entropy, b"\xff\xd9"]
        img = jpeg_decode(b"".join(parts))
        assert img.shape == (16, 16, 3)
        assert img.min() == img.max() == 136

    def test_lossless_arithmetic_raise_notimplemented(self):
        # progressive (0xC2) is now implemented; the SOF codes that
        # remain out of scope are lossless/arithmetic/differential
        payload = bytearray(jpeg_encode(np.zeros((8, 8), np.uint8)))
        i = payload.index(b"\xff\xc0")
        for sof in (0xC3, 0xC9, 0xCB):
            payload[i + 1] = sof
            with pytest.raises(NotImplementedError):
                jpeg_decode(bytes(payload))
        # a baseline stream relabeled SOF2 decodes identically: its
        # single full-band sequential scan is ALSO a legal progressive
        # scan (Ss=0..63 is not, though — DC must be separate), so the
        # decoder must reject it as malformed instead of mis-reading
        payload[i + 1] = 0xC2
        with pytest.raises(ValueError):
            jpeg_decode(bytes(payload))

    def test_truncated_raises(self):
        payload = jpeg_encode(np.zeros((16, 16), np.uint8))
        with pytest.raises(ValueError):
            jpeg_decode(payload[:40])

    def test_oversized_frame_raises_valueerror(self):
        # a 65535x65535 SOF would need tens of GiB of coefficient
        # store: refused up front, not a MemoryError
        payload = bytearray(jpeg_encode(np.zeros((8, 8), np.uint8)))
        i = payload.index(b"\xff\xc0")
        payload[i + 5:i + 9] = b"\xff\xff\xff\xff"
        with pytest.raises(ValueError, match="decode limit"):
            jpeg_decode(bytes(payload))

    def test_rescan_helper_reproduces_encoder(self):
        img = _smooth_rgb((24, 40, 3), 29)
        assert _rescan_baseline(img) == jpeg_encode(img)

    @pytest.mark.parametrize("dri", [0, 3])
    def test_per_component_scans_equal_interleaved(self, dri):
        """Three single-component sequential scans (A.2.2) carry the
        same blocks as the interleaved scan: every scan must land in
        the coefficient store, chroma included."""
        img = _smooth_rgb((24, 40, 3), 31)
        want = jpeg_decode(jpeg_encode(img))
        got = jpeg_decode(_rescan_baseline(img, per_component=True,
                                           dri=dri))
        assert np.array_equal(got, want)
        assert np.array_equal(
            jpeg_decode(_rescan_baseline(img, dri=dri)), want)

    def test_subsampled_gray_scan_is_raster_order(self):
        """A single-component scan is non-interleaved whatever the
        sampling factors, so 2x2 sampling reads blocks in raster order
        and decodes exactly like the 1x1 twin."""
        img = _smooth_rgb((24, 48, 3), 37)[..., 0]
        payload = bytearray(jpeg_encode(img))
        i = payload.index(b"\xff\xc0")
        assert payload[i + 11] == 0x11
        payload[i + 11] = 0x22
        assert np.array_equal(jpeg_decode(bytes(payload)),
                              jpeg_decode(jpeg_encode(img)))

    def test_missing_restart_marker_raises(self):
        mcu = bytes([0b10010010, 0b10111111])
        with pytest.raises(ValueError, match="restart marker missing"):
            jpeg_decode(_minimal_gray_jpeg(mcu + mcu, w=16, dri=1))


class TestJpegRoundtrip:
    def test_gray_quality_bound(self):
        rng = np.random.default_rng(11)
        g = np.clip(np.add.outer(np.arange(40) * 3, np.arange(48) * 2)
                    % 256 + rng.normal(0, 8, (40, 48)), 0, 255) \
            .astype(np.uint8)
        d = jpeg_decode(jpeg_encode(g, quality=95))
        assert d.shape == g.shape
        assert np.abs(d.astype(float) - g.astype(float)).mean() < 3.0

    def test_rgb_quality_bound_nonmultiple_of_8(self):
        rng = np.random.default_rng(13)
        c = rng.integers(0, 256, (25, 31, 3)).astype(float)
        for _ in range(3):  # smooth: JPEG is for natural images
            c[1:-1, 1:-1] = (c[:-2, 1:-1] + c[2:, 1:-1] + c[1:-1, :-2]
                             + c[1:-1, 2:] + c[1:-1, 1:-1]) / 5
        c = c.astype(np.uint8)
        d = jpeg_decode(jpeg_encode(c, quality=92))
        assert d.shape == c.shape
        assert np.abs(d.astype(float) - c.astype(float)).mean() < 6.0

    def test_quality_monotone(self):
        rng = np.random.default_rng(17)
        g = np.clip(rng.normal(128, 30, (32, 32)), 0, 255) \
            .astype(np.uint8)
        errs = [np.abs(jpeg_decode(jpeg_encode(g, quality=q))
                       .astype(float) - g).mean()
                for q in (30, 60, 90)]
        assert errs[0] >= errs[1] >= errs[2]


class TestMultimodalDispatch:
    def test_decode_image_png_and_jpeg(self):
        rng = np.random.default_rng(19)
        img = rng.integers(0, 256, (20, 24, 3), dtype=np.uint8)
        assert np.array_equal(decode_image(png_encode(img)), img)
        d = decode_image(jpeg_encode(img, quality=90))
        assert d.shape == img.shape

    def test_image_feature_on_compressed_payloads(self):
        rng = np.random.default_rng(23)
        img = rng.integers(0, 256, (20, 24, 3), dtype=np.uint8)
        f_png = image_feature(png_encode(img))
        assert f_png.shape == (32,) and np.isfinite(f_png).all()
        f_jpg = image_feature(jpeg_encode(img, quality=95))
        assert f_jpg.shape == (32,) and np.isfinite(f_jpg).all()


# ------------------------------------------------------- progressive JPEG

def _flat_code(sym: int) -> tuple[int, int]:
    """The _FLAT_HUFF canonical code for a symbol: 128 8-bit codes
    0..127, then 128 9-bit codes 0x100.. (independent re-derivation)."""
    return (8, sym) if sym < 128 else (9, 0x100 + sym - 128)


class _Bits:
    def __init__(self):
        self.bits = []

    def put(self, n, v):
        self.bits += [(v >> i) & 1 for i in range(n - 1, -1, -1)]

    def bytes(self):
        b = self.bits + [1] * (-len(self.bits) % 8)
        out = bytearray()
        for i in range(0, len(b), 8):
            byte = int("".join(map(str, b[i:i + 8])), 2)
            out.append(byte)
            if byte == 0xFF:
                out.append(0x00)
        return bytes(out)


def _prog_gray_stream(scans, w=8, h=8, dri=0):
    """Hand-assembled SOF2 stream: DQT all-ones, flat Huffman tables,
    `scans` = [(ss, se, ah, al, entropy_bytes), ...]."""
    from tstoken.imagecodec import _FLAT_HUFF
    counts, syms = _FLAT_HUFF
    parts = [b"\xff\xd8",
             _seg(0xDB, bytes([0]) + bytes([1] * 64)),
             _seg(0xC2, struct.pack(">BHHB", 8, h, w, 1)
                  + bytes([1, 0x11, 0])),
             _seg(0xC4, bytes([0x00]) + bytes(counts) + bytes(syms)
                  + bytes([0x10]) + bytes(counts) + bytes(syms))]
    if dri:
        parts.append(_seg(0xDD, struct.pack(">H", dri)))
    for ss, se, ah, al, data in scans:
        parts.append(_seg(0xDA, bytes([1, 1, 0x00, ss, se,
                                       (ah << 4) | al])))
        parts.append(data)
    parts.append(b"\xff\xd9")
    return b"".join(parts)


def _prog_restart_stream() -> bytes:
    """SOF2 gray 16x8, DRI=1: a DC-first scan coding diff +3 in each
    block and an AC-first scan coding k1=+1 then EOB in each block,
    every block its own restart interval."""
    dc, ac = _Bits(), _Bits()
    dc.put(*_flat_code(0x02))
    dc.put(2, 0b11)
    ac.put(*_flat_code(0x01))
    ac.put(1, 1)
    ac.put(*_flat_code(0x00))
    return _prog_gray_stream(
        [(0, 0, 0, 0, dc.bytes() + b"\xff\xd0" + dc.bytes()),
         (1, 63, 0, 0, ac.bytes() + b"\xff\xd0" + ac.bytes())],
        w=16, dri=1)


def _ref_idct_zigzag(coeff64):
    """Independent IDCT (T.81 A.3.3 formula, no module constants)."""
    F = np.zeros(64)
    F[_ZIGZAG] = coeff64
    F = F.reshape(8, 8)
    out = np.zeros((8, 8))
    for y in range(8):
        for x in range(8):
            s = 0.0
            for u in range(8):
                for v in range(8):
                    cu = 2 ** -0.5 if u == 0 else 1.0
                    cv = 2 ** -0.5 if v == 0 else 1.0
                    s += (cu * cv * F[u, v]
                          * np.cos((2 * x + 1) * v * np.pi / 16)
                          * np.cos((2 * y + 1) * u * np.pi / 16))
            out[y, x] = s / 4
    return out + 128.0


class TestJpegProgressive:
    def test_hand_fixture_sa_refinement(self):
        """4-scan successive approximation on one block, every bit
        written from the spec by hand: DC first/refine + AC
        first/refine with two history coefficients (zigzag DC=6,
        k2=+3, k5=-2, identity quantization)."""
        s1 = _Bits()                       # DC first, Al=1: diff 6>>1=3
        s1.put(*_flat_code(0x02))
        s1.put(2, 0b11)
        s2 = _Bits()                       # AC first 1..63, Al=1
        s2.put(*_flat_code(0x11))          # r=1 (skip k1), s=1
        s2.put(1, 1)                       # +1  (k2: |3|>>1 = 1)
        s2.put(*_flat_code(0x21))          # r=2 (skip k3,k4), s=1
        s2.put(1, 0)                       # -1  (k5: sign bit 0)
        s2.put(*_flat_code(0x00))          # EOB (rest of band zero)
        s3 = _Bits()                       # DC refine to Al=0: 6&1 = 0
        s3.put(1, 0)
        s4 = _Bits()                       # AC refine 1..63 to Al=0
        s4.put(*_flat_code(0x00))          # EOB covering whole band
        s4.put(1, 1)                       # k2 correction: 2 -> 3
        s4.put(1, 0)                       # k5 correction: -2 stays
        img = jpeg_decode(_prog_gray_stream([
            (0, 0, 0, 1, s1.bytes()), (1, 63, 0, 1, s2.bytes()),
            (0, 0, 1, 0, s3.bytes()), (1, 63, 1, 0, s4.bytes())]))
        coeff = np.zeros(64)
        coeff[0], coeff[2], coeff[5] = 6, 3, -2
        want = np.clip(np.round(_ref_idct_zigzag(coeff)), 0, 255)
        assert np.abs(img.astype(float) - want).max() <= 1

    @pytest.mark.parametrize("shape,quality", [
        ((24, 17), 85), ((21, 19, 3), 90), ((8, 8), 100),
        ((40, 40, 3), 50)])
    def test_progressive_equals_baseline(self, shape, quality):
        """Same quantized coefficients both ways -> bit-identical
        decodes; random content exercises sign/magnitude paths."""
        rng = np.random.default_rng(sum(shape) + quality)
        img = rng.integers(0, 256, shape, dtype=np.uint8)
        prog = jpeg_encode(img, quality, progressive=True)
        base = jpeg_encode(img, quality)
        assert b"\xff\xc2" in prog and b"\xff\xc0" not in prog
        assert np.array_equal(jpeg_decode(prog), jpeg_decode(base))

    def test_progressive_smooth_gradient(self):
        """Smooth content -> long EOB runs across blocks in the AC
        scans (the accumulation/flush path, not per-block EOBs)."""
        y, x = np.mgrid[0:48, 0:32]
        img = ((x * 3 + y * 2) % 256).astype(np.uint8)
        prog = jpeg_encode(img, 75, progressive=True)
        base = jpeg_encode(img, 75)
        assert np.array_equal(jpeg_decode(prog), jpeg_decode(base))

    def test_progressive_constant_image_pure_eobruns(self):
        img = np.full((32, 32, 3), 77, np.uint8)
        prog = jpeg_encode(img, 90, progressive=True)
        assert np.array_equal(jpeg_decode(prog),
                              jpeg_decode(jpeg_encode(img, 90)))

    def test_crafted_coefficients_force_zrl_and_interleaved_bits(self):
        """Drive the encoder at coefficient level to guarantee the
        paths random images may miss: ZRL in first AND refine scans,
        correction bits interleaved around a ZRL, EOB runs spanning
        blocks mid-scan, and |coeff| large enough for multi-bit
        magnitudes; verify against an independent IDCT."""
        from tstoken.imagecodec import (_FLAT_HUFF,
                                        _encode_progressive_scans)
        counts, syms = _FLAT_HUFF
        blocks = np.zeros((9, 64), dtype=np.int64)
        blocks[0, 0] = 13
        blocks[0, 10] = 9          # band 6-63: k10
        blocks[0, 40] = -2         # 29 zero-history gap -> ZRL + r=13
        blocks[2, 0] = -6          # blocks 1,3..7 all-zero: EOB runs
        blocks[2, 63] = 3          # nonzero at the very band end
        blocks[8, 1] = 1           # band 1-5 content in the last block
        blocks[8, 2] = -7
        blocks[8, 30] = 5
        blocks[8, 55] = -1

        def seg(marker, body):
            return _seg(marker, body)

        parts = [b"\xff\xd8",
                 _seg(0xDB, bytes([0]) + bytes([1] * 64)),
                 _seg(0xC2, struct.pack(">BHHB", 8, 24, 24, 1)
                      + bytes([1, 0x11, 0]))]
        parts += _encode_progressive_scans([blocks], seg)
        parts.append(b"\xff\xd9")
        img = jpeg_decode(b"".join(parts))
        want = np.zeros((24, 24))
        for b in range(9):
            by, bx = divmod(b, 3)
            want[by * 8:by * 8 + 8, bx * 8:bx * 8 + 8] = \
                _ref_idct_zigzag(blocks[b])
        want = np.clip(np.round(want), 0, 255)
        assert np.abs(img.astype(float) - want).max() <= 1

    def test_restart_resets_dc_predictor(self):
        """Each restart interval restarts DC prediction, so both blocks
        hold DC 3 (not 3 then 6) and the same k1=+1."""
        img = jpeg_decode(_prog_restart_stream())
        coeff = np.zeros(64)
        coeff[0], coeff[1] = 3, 1
        want = np.clip(np.round(_ref_idct_zigzag(coeff)), 0, 255)
        assert np.abs(img.astype(float) - np.tile(want, (1, 2))).max() <= 1

    def test_missing_scan_leaves_partial_but_decodes(self):
        """A stream with only the DC-first scan (a legal truncated
        progressive render) decodes without error to the DC
        approximation."""
        s1 = _Bits()
        s1.put(*_flat_code(0x02))
        s1.put(2, 0b11)                    # DC 3 at Al=1 -> stored 6
        img = jpeg_decode(_prog_gray_stream([(0, 0, 0, 1, s1.bytes())]))
        coeff = np.zeros(64)
        coeff[0] = 6
        want = np.clip(np.round(_ref_idct_zigzag(coeff)), 0, 255)
        assert np.abs(img.astype(float) - want).max() <= 1

    def test_malformed_scan_metadata_raises_valueerror(self):
        """Streams whose scans reference undefined tables, unknown
        components, or zero sampling factors are MALFORMED data and
        must raise ValueError (the _featurize fallback contract), not
        KeyError/StopIteration/ZeroDivisionError — in both the
        baseline and progressive paths."""
        base = bytearray(jpeg_encode(np.zeros((8, 8), np.uint8)))

        # scan referencing an unknown component id
        bad = bytearray(base)
        i = bad.index(b"\xff\xda")
        assert bad[i + 5] == 1          # component id in SOS
        bad[i + 5] = 9
        with pytest.raises(ValueError):
            jpeg_decode(bytes(bad))

        # zero sampling factor in SOF (baseline and SOF2-labeled)
        for sof in (0xC0, 0xC2):
            bad = bytearray(base)
            j = bad.index(b"\xff\xc0")
            bad[j + 1] = sof
            assert bad[j + 11] == 0x11  # h<<4|v of component 1
            bad[j + 11] = 0x01
            with pytest.raises((ValueError, NotImplementedError)):
                jpeg_decode(bytes(bad))

        # progressive scan with no DHT at all
        s1 = _Bits()
        s1.put(*_flat_code(0x02))
        s1.put(2, 0b11)
        stream = _prog_gray_stream([(0, 0, 0, 1, s1.bytes())])
        k = stream.index(b"\xff\xc4")
        (dhtlen,) = struct.unpack(">H", stream[k + 2:k + 4])
        no_dht = stream[:k] + stream[k + 2 + dhtlen:]
        with pytest.raises(ValueError):
            jpeg_decode(no_dht)
