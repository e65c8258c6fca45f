"""Pure-NumPy/stdlib image codecs: PNG decode and Huffman JPEG.

Round-5 closure of the multimodal `partial`: through round 4,
JPEG/PNG payloads raised NotImplementedError because no image library
exists in this container (reference pycatcher never decodes images at
all — its plots go the other direction, array->PNG via matplotlib;
these decoders are engine additions for the multimodal ingest path,
`multimodal.decode_image`). Both formats are fully published specs
(PNG: RFC 2083 / ISO 15948; JPEG: ITU-T T.81 with the Annex K example
tables), decodable with stdlib zlib + NumPy alone:

  - ``png_decode``: every spec-legal depth/color combination —
    1/2/4/8-bit gray + palette, 8/16-bit gray / RGB / gray+alpha /
    RGBA — filters 0-4, non-interlaced AND Adam7-interlaced (16-bit
    decodes to the high byte under the uint8 contract). CRCs are
    verified.
  - ``jpeg_decode``: baseline sequential DCT (SOF0/SOF1) AND Huffman
    progressive (SOF2 — spectral selection, successive approximation,
    EOB runs, per T.81 Annex G) through one entropy decoder and one
    coefficient store, restart markers, 4:4:4 / 4:2:2 / 4:2:0 chroma,
    JFIF YCbCr -> RGB. Arithmetic coding and
    lossless/differential SOFs raise NotImplementedError.
  - ``jpeg_encode``: baseline encoder (Annex K quantization + Huffman
    tables, quality scaling per libjpeg's convention) plus a
    ``progressive=True`` mode emitting a libjpeg-shaped scan script —
    exists so BOTH decoder modes are round-trip-testable in-sandbox
    and so synthetic media tables can carry real compressed payloads.

Scale posture: these run inside the same bounded-Arrow-batch
mapInPandas plumbing as every other decoder in `multimodal` — per-row
NumPy work on executor-local bytes, never on the driver.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

# --------------------------------------------------------------- PNG

_PNG_SIG = b"\x89PNG\r\n\x1a\n"
# channels per pixel by PNG color type (3 = palette -> 1 index byte)
_PNG_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}


def _png_unfilter(raw: bytes, h: int, stride: int, bpp: int) -> np.ndarray:
    """Reverse PNG scanline filters (spec 6.2-6.6) -> (h, stride) uint8.

    `stride` is the FILTERED row width in bytes (ceil(w*ch*depth/8)),
    `bpp` the filter-distance in bytes (max(1, ch*depth//8)) — the
    spec defines Sub/Average/Paeth over bytes at that distance, which
    is why one routine serves 1/2/4/8/16-bit rows unchanged."""
    out = np.zeros((h, stride), dtype=np.uint8)
    pos = 0
    if len(raw) < h * (stride + 1):
        raise ValueError("truncated PNG image data")
    zero = np.zeros(stride, dtype=np.int32)
    for y in range(h):
        f = raw[pos]
        line = np.frombuffer(raw, np.uint8, stride, pos + 1).astype(np.int32)
        pos += stride + 1
        prev = out[y - 1].astype(np.int32) if y else zero
        if f == 0:                                   # None
            rec = line
        elif f == 1:                                 # Sub
            # recon[x] = line[x] + recon[x-bpp]: per-offset cumsum mod 256
            pad = (-stride) % bpp
            padded = np.concatenate([line, np.zeros(pad, np.int32)]) \
                if pad else line
            rec = (np.cumsum(padded.reshape(-1, bpp), axis=0)
                   .ravel()[:stride]) % 256
        elif f == 2:                                 # Up
            rec = (line + prev) % 256
        elif f == 3:                                 # Average
            rec = line.copy()
            for x in range(stride):
                a = rec[x - bpp] if x >= bpp else 0
                rec[x] = (rec[x] + ((a + prev[x]) >> 1)) % 256
        elif f == 4:                                 # Paeth
            rec = line.copy()
            for x in range(stride):
                a = rec[x - bpp] if x >= bpp else 0
                b = prev[x]
                c = prev[x - bpp] if x >= bpp else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                rec[x] = (rec[x] + pred) % 256
        else:
            raise ValueError(f"unknown PNG filter type {f}")
        out[y] = rec.astype(np.uint8)
    return out


def _png_rows_to_samples(rows: np.ndarray, w: int, ch: int,
                         depth: int) -> np.ndarray:
    """(h, stride) filtered-row bytes -> (h, w*ch) samples.

    16-bit samples keep their HIGH byte (the decoder's contract is
    uint8 arrays; PNG 16-bit is big-endian so byte 0 is the MSB);
    1/2/4-bit rows unpack MSB-first per the spec, trailing pad bits
    dropped. 8-bit rows pass through."""
    h = rows.shape[0]
    if depth == 8:
        return rows[:, :w * ch]
    if depth == 16:
        return rows[:, 0::2][:, :w * ch]
    # depth 1/2/4 (gray or palette: ch == 1)
    bits = np.unpackbits(rows, axis=1)
    npx = w * ch
    vals = bits[:, :npx * depth].reshape(h, npx, depth)
    weights = (1 << np.arange(depth - 1, -1, -1)).astype(np.uint8)
    return (vals * weights).sum(axis=2).astype(np.uint8)


# Adam7 pass grid: (x_start, y_start, x_step, y_step) per pass
_ADAM7 = ((0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
          (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2))


def png_decode(payload: bytes) -> np.ndarray:
    """PNG bytes -> uint8 array: (H, W) gray, (H, W, 3) RGB, or
    (H, W, 4) RGBA / gray+alpha expanded to RGBA.

    Supports every spec-legal (bit depth, color type) combination —
    1/2/4/8-bit gray and palette, 8/16-bit gray/RGB/gray+alpha/RGBA —
    both non-interlaced and Adam7-interlaced; 16-bit samples decode to
    their high byte (the uint8 contract), sub-8-bit gray scales to
    full range (1→0/255, 2→×85, 4→×17). Raises ValueError on
    malformed data."""
    if payload[:8] != _PNG_SIG:
        raise ValueError("not a PNG payload")
    pos, ihdr, plte, idat = 8, None, None, []
    while pos + 8 <= len(payload):
        (length,), ctype = struct.unpack(">I", payload[pos:pos + 4]), \
            payload[pos + 4:pos + 8]
        body = payload[pos + 8:pos + 8 + length]
        if len(body) != length:
            raise ValueError("truncated PNG chunk")
        crc = payload[pos + 8 + length:pos + 12 + length]
        if len(crc) != 4 or struct.unpack(">I", crc)[0] != \
                zlib.crc32(ctype + body) & 0xFFFFFFFF:
            raise ValueError(f"PNG chunk CRC mismatch in {ctype!r}")
        if ctype == b"IHDR":
            if len(body) != 13:
                raise ValueError(f"IHDR must be 13 bytes, got {len(body)}")
            ihdr = struct.unpack(">IIBBBBB", body)
        elif ctype == b"PLTE":
            if len(body) % 3 or not body:
                raise ValueError(f"PLTE length {len(body)} not a "
                                 "positive multiple of 3")
            plte = np.frombuffer(body, np.uint8).reshape(-1, 3)
        elif ctype == b"IDAT":
            idat.append(body)
        elif ctype == b"IEND":
            break
        pos += 12 + length
    if ihdr is None or not idat:
        raise ValueError("PNG missing IHDR/IDAT")
    w, h, depth, color, comp, filt, interlace = ihdr
    if comp != 0 or filt != 0:
        raise ValueError("invalid PNG compression/filter method")
    if interlace not in (0, 1):
        raise ValueError(f"unknown PNG interlace method {interlace}")
    if color not in _PNG_CHANNELS:
        raise ValueError(f"unknown PNG color type {color}")
    # spec 11.2.2 legality table: palette caps at 8, truecolor/alpha
    # types start at 8
    legal = {0: (1, 2, 4, 8, 16), 2: (8, 16), 3: (1, 2, 4, 8),
             4: (8, 16), 6: (8, 16)}[color]
    if depth not in legal:
        raise ValueError(f"illegal PNG depth {depth} for color {color}")
    if w <= 0 or h <= 0 or w * h > 64_000_000:
        raise ValueError(f"invalid PNG dimensions {w}x{h}")
    ch = _PNG_CHANNELS[color]
    bpp = max(1, ch * depth // 8)
    try:
        raw = zlib.decompress(b"".join(idat))
    except zlib.error as e:
        raise ValueError(f"corrupt PNG zlib stream: {e}") from e

    def stride_of(width: int) -> int:
        return (width * ch * depth + 7) // 8

    if interlace == 0:
        rows = _png_unfilter(raw, h, stride_of(w), bpp)
        flat = _png_rows_to_samples(rows, w, ch, depth)
    else:
        # Adam7: seven independently-filtered sub-images concatenated
        # in the one zlib stream; empty passes contribute zero bytes
        flat = np.zeros((h, w * ch), dtype=np.uint8)
        pos = 0
        for x0, y0, xs, ys in _ADAM7:
            pw = (w - x0 + xs - 1) // xs
            ph = (h - y0 + ys - 1) // ys
            if pw <= 0 or ph <= 0:
                continue
            stride = stride_of(pw)
            nbytes = ph * (stride + 1)
            rows = _png_unfilter(raw[pos:pos + nbytes], ph, stride, bpp)
            pos += nbytes
            samp = _png_rows_to_samples(rows, pw, ch, depth) \
                .reshape(ph, pw, ch)
            flat.reshape(h, w, ch)[y0::ys, x0::xs] = samp
        flat = flat.reshape(h, w * ch)
    if depth < 8 and color == 0:
        # scale sub-8-bit gray to the full 0-255 range (255/(2^d - 1))
        flat = (flat.astype(np.uint16) * (255 // ((1 << depth) - 1))) \
            .astype(np.uint8)
    if color == 0:
        return flat.reshape(h, w)
    if color == 2:
        return flat.reshape(h, w, 3)
    if color == 3:
        if plte is None:
            raise ValueError("palette PNG missing PLTE")
        idx = flat.reshape(h, w)
        if int(idx.max(initial=0)) >= len(plte):
            raise ValueError("PNG palette index out of range")
        return plte[idx]
    if color == 4:  # gray+alpha -> RGBA
        ga = flat.reshape(h, w, 2)
        return np.dstack([ga[..., 0]] * 3 + [ga[..., 1]])
    return flat.reshape(h, w, 4)  # color == 6


# -------------------------------------------------------------- JPEG
#
# Baseline sequential DCT per ITU-T T.81. The quantization and Huffman
# tables below are the spec's own Annex K examples (the de-facto
# defaults every encoder ships).

_ZIGZAG = np.array([
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63])

_Q_LUMA = np.array([
    16, 11, 10, 16, 24, 40, 51, 61, 12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56, 14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77, 24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101, 72, 92, 95, 98, 112, 100, 103, 99],
    dtype=np.int32)

_Q_CHROMA = np.array([
    17, 18, 24, 47, 99, 99, 99, 99, 18, 21, 26, 66, 99, 99, 99, 99,
    24, 26, 56, 99, 99, 99, 99, 99, 47, 66, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99],
    dtype=np.int32)

# Annex K.3: (bits-per-length[1..16], symbol values)
_HUFF_DC_LUMA = ([0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0],
                 list(range(12)))
_HUFF_DC_CHROMA = ([0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0],
                   list(range(12)))
_HUFF_AC_LUMA = (
    [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D],
    [0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41,
     0x06, 0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91,
     0xA1, 0x08, 0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0, 0x24,
     0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16, 0x17, 0x18, 0x19, 0x1A,
     0x25, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38,
     0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A, 0x53,
     0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65, 0x66,
     0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
     0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A, 0x92, 0x93,
     0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
     0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6, 0xB7,
     0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9,
     0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1,
     0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF1, 0xF2,
     0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA])
_HUFF_AC_CHROMA = (
    [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77],
    [0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21, 0x31, 0x06, 0x12,
     0x41, 0x51, 0x07, 0x61, 0x71, 0x13, 0x22, 0x32, 0x81, 0x08, 0x14,
     0x42, 0x91, 0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0, 0x15,
     0x62, 0x72, 0xD1, 0x0A, 0x16, 0x24, 0x34, 0xE1, 0x25, 0xF1, 0x17,
     0x18, 0x19, 0x1A, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37,
     0x38, 0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A,
     0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65,
     0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78,
     0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A,
     0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3,
     0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5,
     0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7,
     0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9,
     0xDA, 0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF2,
     0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA])

# 8x8 DCT-II basis: _DCT_A[u, x] = c(u)/2 * cos((2x+1) u pi / 16);
# forward 2-D DCT of block B is A @ B @ A.T, inverse is A.T @ B @ A.
_DCT_A = np.array([[(np.sqrt(0.125) if u == 0 else 0.5)
                    * np.cos((2 * x + 1) * u * np.pi / 16)
                    for x in range(8)] for u in range(8)])


def _build_canonical(counts: list[int],
                     symbols: list[int]) -> dict[tuple[int, int], int]:
    """(bit-length, code) -> symbol map for canonical Huffman codes."""
    table, code, k = {}, 0, 0
    for length in range(1, 17):
        for _ in range(counts[length - 1]):
            table[(length, code)] = symbols[k]
            code += 1
            k += 1
        code <<= 1
    return table


class _BitReader:
    """MSB-first bit reader over entropy-coded JPEG data with 0xFF00
    byte-stuffing removal; RST markers are consumed by the caller
    between restart intervals. Reading into any marker or past the
    payload end is corrupt data: a complete scan never needs a bit
    beyond its final padded byte."""

    def __init__(self, data: bytes, pos: int):
        self.data = data
        self.pos = pos
        self.bits = 0
        self.nbits = 0

    def _fill(self) -> None:
        b = self.data[self.pos:self.pos + 1]
        if b == b"\xff":
            if self.data[self.pos + 1:self.pos + 2] != b"\x00":
                raise ValueError("JPEG entropy data interrupted by a "
                                 "marker mid-interval")
            self.pos += 1              # stuffed byte
        elif not b:
            raise ValueError("truncated JPEG entropy data")
        self.pos += 1
        self.bits = (self.bits << 8) | b[0]
        self.nbits += 8

    def read(self, n: int) -> int:
        while self.nbits < n:
            self._fill()
        self.nbits -= n
        v = (self.bits >> self.nbits) & ((1 << n) - 1)
        self.bits &= (1 << self.nbits) - 1
        return v

    def huff(self, table: dict[tuple[int, int], int]) -> int:
        code = 0
        for length in range(1, 17):
            code = (code << 1) | self.read(1)
            sym = table.get((length, code))
            if sym is not None:
                return sym
        raise ValueError("invalid JPEG Huffman code")

    def align(self) -> None:
        self.nbits = 0
        self.bits = 0


def _extend(v: int, t: int) -> int:
    """T.81 EXTEND: map t-bit magnitude v to signed coefficient."""
    return v if t == 0 or v >= (1 << (t - 1)) else v - (1 << t) + 1


def jpeg_decode(payload: bytes) -> np.ndarray:
    """JPEG bytes -> uint8 (H, W) gray or (H, W, 3) RGB.

    Supports SOF0/SOF1 (Huffman sequential baseline) and SOF2
    (Huffman progressive: spectral selection + successive
    approximation, DC and AC first/refinement scans, EOB runs),
    DRI/RST, 1- or 3-component scans, any h/v sampling up to 2
    (4:4:4, 4:2:2, 4:2:0). Lossless/arithmetic/differential SOFs
    raise NotImplementedError. Every scan, sequential or progressive,
    decodes into one DCT-coefficient store that is dequantized and
    inverse-transformed once, after the last scan."""
    if payload[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG payload")
    pos = 2
    qt: dict[int, np.ndarray] = {}
    huff: dict[tuple[int, int], dict] = {}
    frame = None
    coef = None        # coefficient store, built at the first SOS
    restart = 0
    while pos + 4 <= len(payload):
        if payload[pos] != 0xFF:
            raise ValueError(f"expected marker at byte {pos}")
        marker = payload[pos + 1]
        pos += 2
        if marker == 0xFF:      # fill byte before a marker (spec B.1.1.2)
            pos -= 1
            continue
        if marker == 0xD9:      # EOI
            break
        if marker in (0x01,) or 0xD0 <= marker <= 0xD8:
            continue  # standalone
        (seglen,) = struct.unpack(">H", payload[pos:pos + 2])
        body = payload[pos + 2:pos + seglen]
        if len(body) != seglen - 2:
            raise ValueError("truncated JPEG segment")
        if marker == 0xDB:                           # DQT
            i = 0
            while i < len(body):
                pq, tq = body[i] >> 4, body[i] & 15
                i += 1
                if pq == 0:
                    tbl = np.frombuffer(body, np.uint8, 64, i) \
                        .astype(np.int32)
                    i += 64
                else:
                    tbl = np.frombuffer(body, ">u2", 64, i).astype(np.int32)
                    i += 128
                qt[tq] = tbl
        elif marker in (0xC0, 0xC1, 0xC2):           # SOF0/1 + SOF2
            if frame is not None or len(body) < 6 \
                    or len(body) != 6 + 3 * body[5]:
                raise ValueError("malformed or repeated JPEG SOF")
            prec, h, w, nc = struct.unpack(">BHHB", body[:6])
            if prec != 8 or nc not in (1, 3):
                raise NotImplementedError(
                    "only 8-bit 1- or 3-component JPEG supported")
            if w * h > 64_000_000:
                raise ValueError(f"JPEG dimensions {w}x{h} exceed the "
                                 "64M-pixel decode limit")
            comps = []
            for k in range(nc):
                cid, hv, tq = body[6 + 3 * k:9 + 3 * k]
                comps.append({"id": cid, "h": hv >> 4, "v": hv & 15,
                              "tq": tq})
            frame = {"h": h, "w": w, "comps": comps,
                     "prog": marker == 0xC2}
        elif marker in (0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA,
                        0xCB, 0xCD, 0xCE, 0xCF):
            raise NotImplementedError(
                f"non-baseline JPEG (SOF marker 0xFF{marker:02X}: "
                "lossless/arithmetic/differential) not supported")
        elif marker == 0xC4:                         # DHT
            i = 0
            while i < len(body):
                tc, th = body[i] >> 4, body[i] & 15
                counts = list(body[i + 1:i + 17])
                n = sum(counts)
                syms = list(body[i + 17:i + 17 + n])
                if len(counts) != 16 or len(syms) != n:
                    raise ValueError("JPEG DHT symbol counts overrun "
                                     "the segment")
                huff[(tc, th)] = _build_canonical(counts, syms)
                i += 17 + n
        elif marker == 0xDD:                         # DRI
            if len(body) != 2:
                raise ValueError("malformed JPEG DRI segment")
            (restart,) = struct.unpack(">H", body)
        elif marker == 0xDA:                         # SOS
            if frame is None:
                raise ValueError("JPEG SOS before SOF")
            ns = body[0] if body else 0
            if ns < 1 or len(body) != 4 + 2 * ns:
                raise ValueError("malformed JPEG SOS header")
            scan = []
            for k in range(ns):
                cs, tdta = body[1 + 2 * k], body[2 + 2 * k]
                comp = next((c for c in frame["comps"]
                             if c["id"] == cs), None)
                if comp is None:
                    raise ValueError(
                        f"JPEG scan references unknown component {cs}")
                scan.append((comp, tdta >> 4, tdta & 15))
            ss, se = body[1 + 2 * ns], body[2 + 2 * ns]
            ahal = body[3 + 2 * ns]
            if coef is None:
                coef = _prog_init(frame)
            end = _next_jpeg_marker(payload, pos + seglen)
            _prog_scan(payload, pos + seglen, frame, scan, huff,
                       restart, coef, ss, se, ahal >> 4, ahal & 15)
            pos = end
            continue
        pos += seglen
    if coef is not None:
        return _prog_assemble(frame, coef, qt)
    raise ValueError("JPEG has no SOS scan")


def _jpeg_finish(planes: dict, comps: list, h: int, w: int,
                 hmax: int, vmax: int) -> np.ndarray:
    """Upsample component planes to full resolution, crop, convert."""
    out = []
    for c in comps:
        p = planes[c["id"]]
        # upsample to full MCU grid resolution, crop to (h, w)
        p = np.repeat(np.repeat(p, hmax // c["h"], axis=1),
                      vmax // c["v"], axis=0)
        out.append(p[:h, :w])
    if len(out) == 1:
        return np.clip(np.round(out[0] + 128.0), 0, 255).astype(np.uint8)
    y, cb, cr = out[0] + 128.0, out[1], out[2]
    r = y + 1.402 * cr
    g = y - 0.344136 * cb - 0.714136 * cr
    b = y + 1.772 * cb
    return np.clip(np.round(np.dstack([r, g, b])), 0, 255) \
        .astype(np.uint8)


# ------------------------------------------- JPEG entropy decode (SOF0/1/2)
#
# T.81 Annex G, Huffman coding only. Each SOS contributes one band
# (spectral selection Ss..Se) at one precision (successive
# approximation Ah -> Al) to a per-component DCT-coefficient store;
# the image materializes once, after EOI, via dequant + IDCT over the
# completed store. A sequential (SOF0/SOF1) scan is the Ss=0, Se=63,
# Ah=Al=0 case: DC then AC 1..63 per block, with no EOB runs. The AC
# refinement control flow mirrors G.1.2.3:
# each (run, size) symbol advances over `run` ZERO-history positions,
# consuming one correction bit for every nonzero-history position
# passed; an EOBn symbol refines every remaining nonzero-history
# position of the current block and the next EOBRUN-1 whole blocks.


def _next_jpeg_marker(payload: bytes, pos: int) -> int:
    """First byte offset >= pos of a marker that terminates entropy
    data (not a stuffed 0xFF00, not RST, not fill bytes)."""
    while True:
        pos = payload.find(b"\xff", pos)
        if pos < 0 or pos + 1 >= len(payload):
            return len(payload)
        if payload[pos + 1] not in (0x00, 0xFF) \
                and not 0xD0 <= payload[pos + 1] <= 0xD7:
            return pos
        pos += 1


def _get_huff(huff: dict, tc: int, th: int) -> dict:
    """Huffman table lookup honoring the ValueError-for-malformed
    contract (a scan naming an undefined table is malformed data)."""
    t = huff.get((tc, th))
    if t is None:
        raise ValueError(
            f"JPEG scan uses undefined Huffman table class {tc} id {th}")
    return t


def _prog_init(frame: dict) -> dict:
    """Per-component coefficient stores (MCU-padded block grid) plus
    the component's OWN block dimensions for non-interleaved scans
    (A.2.2: ceil of the component's sample extent, NOT the padded
    MCU grid). int64, so DC predictors shifted by Al <= 13 cannot
    overflow."""
    comps = frame["comps"]
    h, w = frame["h"], frame["w"]
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    if hmax < 1 or vmax < 1 or min(c["h"] for c in comps) < 1 \
            or min(c["v"] for c in comps) < 1:
        raise ValueError("invalid JPEG sampling factor 0")
    if hmax > 2 or vmax > 2:
        raise NotImplementedError("sampling factors above 2 unsupported")
    mcux = -(-w // (8 * hmax))
    mcuy = -(-h // (8 * vmax))
    out = {}
    for c in comps:
        cw = -(-w * c["h"] // hmax)
        chh = -(-h * c["v"] // vmax)
        out[c["id"]] = {
            "a": np.zeros((mcuy * c["v"], mcux * c["h"], 64),
                          dtype=np.int64),
            "bw": -(-cw // 8), "bh": -(-chh // 8)}
    return out


def _dc_first_unit(reader, dctab, cf, pred, cid, al):
    t = reader.huff(dctab)
    if t > 11:
        raise ValueError(f"invalid JPEG DC magnitude category {t}")
    diff = _extend(reader.read(t), t) if t else 0
    pred[cid] += diff
    cf[0] = pred[cid] << al


def _ac_first_unit(reader, actab, cf, ss, se, al, eobrun):
    if eobrun[0]:
        eobrun[0] -= 1
        return
    k = ss
    while k <= se:
        rs = reader.huff(actab)
        r, s = rs >> 4, rs & 15
        if s == 0:
            if r < 15:                       # EOBn
                eobrun[0] = (1 << r) - 1
                if r:
                    eobrun[0] += reader.read(r)
                return
            k += 16                          # ZRL
        else:
            k += r
            if k > se:
                raise ValueError("JPEG AC run past spectral band end")
            cf[k] = _extend(reader.read(s), s) << al
            k += 1


def _ac_refine_unit(reader, actab, cf, ss, se, al, eobrun):
    p1 = 1 << al
    m1 = -(1 << al)
    k = ss
    if eobrun[0] == 0:
        while k <= se:
            rs = reader.huff(actab)
            r, s = rs >> 4, rs & 15
            if s == 0:
                if r < 15:                   # EOBn: finish via run below
                    eobrun[0] = 1 << r
                    if r:
                        eobrun[0] += reader.read(r)
                    break
                val = 0                      # ZRL: pass 16 zero-history
            elif s == 1:
                val = p1 if reader.read(1) else m1
            else:
                raise ValueError("invalid magnitude in AC refinement")
            while k <= se:
                if cf[k]:
                    if reader.read(1) and not (cf[k] & p1):
                        cf[k] += p1 if cf[k] > 0 else m1
                else:
                    if r == 0:
                        break
                    r -= 1
                k += 1
            if s:
                if k > se:
                    raise ValueError("JPEG AC refine run past band end")
                cf[k] = val
            k += 1
    if eobrun[0] > 0:
        while k <= se:
            if cf[k]:
                if reader.read(1) and not (cf[k] & p1):
                    cf[k] += p1 if cf[k] > 0 else m1
            k += 1
        eobrun[0] -= 1


def _prog_scan(payload: bytes, pos: int, frame: dict, scan: list,
               huff: dict, restart: int, coef: dict,
               ss: int, se: int, ah: int, al: int) -> None:
    """Decode one scan into the coefficient store. The per-block unit
    is picked once: sequential (DC then AC 1..63), DC first, DC
    refine, AC first or AC refine. Interleaved scans visit blocks in
    MCU order, single-component scans in raster order (A.2.2)."""
    comps = frame["comps"]
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    mcux = -(-frame["w"] // (8 * hmax))
    mcuy = -(-frame["h"] // (8 * vmax))
    if not frame["prog"]:
        if (ss, se, ah, al) != (0, 63, 0, 0):
            raise ValueError("sequential JPEG scan must have Ss=0, "
                             "Se=63, Ah=Al=0")
    elif ss == 0 and se != 0:
        raise ValueError("JPEG DC scan must have Se=0")
    elif ss > 0 and len(scan) != 1:
        raise ValueError("JPEG progressive AC scan must be 1-component")
    if ss > se or se > 63 or ah > 13 or al > 13:
        raise ValueError(f"invalid JPEG scan: band {ss}..{se}, "
                         f"Ah={ah}, Al={al}")
    reader = _BitReader(payload, pos)
    eobrun = [0]
    pred = {c["id"]: 0 for c, _, _ in scan}

    if not frame["prog"]:
        def unit(cf, cid, dctab, actab):
            _dc_first_unit(reader, dctab, cf, pred, cid, 0)
            _ac_first_unit(reader, actab, cf, 1, 63, 0, eobrun)
            if eobrun[0]:
                raise ValueError("EOB run in a sequential JPEG scan")
    elif ss == 0 and ah == 0:
        def unit(cf, cid, dctab, actab):
            _dc_first_unit(reader, dctab, cf, pred, cid, al)
    elif ss == 0:
        def unit(cf, cid, dctab, actab):
            cf[0] |= reader.read(1) << al
    elif ah == 0:
        def unit(cf, cid, dctab, actab):
            _ac_first_unit(reader, actab, cf, ss, se, al, eobrun)
    else:
        def unit(cf, cid, dctab, actab):
            _ac_refine_unit(reader, actab, cf, ss, se, al, eobrun)

    # only the tables the unit reads: a DC refinement reads none
    units = [(coef[c["id"]]["a"], c,
              _get_huff(huff, 0, td) if ss == 0 and ah == 0 else None,
              _get_huff(huff, 1, ta) if se else None)
             for c, td, ta in scan]
    if len(units) > 1:
        mcus = ([(a, c["id"], dct, act, my * c["v"] + y, mx * c["h"] + x)
                 for a, c, dct, act in units
                 for y in range(c["v"]) for x in range(c["h"])]
                for my in range(mcuy) for mx in range(mcux))
    else:
        a, c, dct, act = units[0]
        info = coef[c["id"]]
        mcus = ([(a, c["id"], dct, act, y, x)]
                for y in range(info["bh"]) for x in range(info["bw"]))
    for n, mcu in enumerate(mcus):
        if restart and n and n % restart == 0:
            reader.align()
            rst = payload[reader.pos:reader.pos + 2]
            if rst[:1] != b"\xff" or not b"\xd0" <= rst[1:] <= b"\xd7":
                raise ValueError("JPEG restart marker missing in scan")
            reader.pos += 2
            pred.update(dict.fromkeys(pred, 0))
            eobrun[0] = 0
        for a, cid, dct, act, y, x in mcu:
            unit(a[y, x], cid, dct, act)


def _prog_assemble(frame: dict, coef: dict, qt: dict) -> np.ndarray:
    comps = frame["comps"]
    h, w = frame["h"], frame["w"]
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    planes = {}
    for c in comps:
        a = coef[c["id"]]["a"]
        if c["tq"] not in qt:
            raise ValueError(f"missing quantization table {c['tq']}")
        deq = (a * qt[c["tq"]]).astype(np.float64)   # zigzag order
        nby, nbx = a.shape[:2]
        blk = np.zeros((nby, nbx, 64), dtype=np.float64)
        blk[:, :, _ZIGZAG] = deq
        spat = _DCT_A.T @ blk.reshape(-1, 8, 8) @ _DCT_A
        planes[c["id"]] = (spat.reshape(nby, nbx, 8, 8)
                           .transpose(0, 2, 1, 3)
                           .reshape(nby * 8, nbx * 8))
    return _jpeg_finish(planes, comps, h, w, hmax, vmax)


# -------------------------------------------------- JPEG encode (test twin)

def _quality_scale(q: np.ndarray, quality: int) -> np.ndarray:
    """libjpeg's quality->scaling convention (quality 1..100)."""
    quality = min(max(int(quality), 1), 100)
    s = 5000 // quality if quality < 50 else 200 - quality * 2
    return np.clip((q * s + 50) // 100, 1, 255).astype(np.int32)


def _canonical_encode_map(counts: list, syms: list) -> dict:
    """{symbol: (length, code)} — the encode-side twin of
    _build_canonical, shared by the baseline and progressive paths."""
    enc, code, k = {}, 0, 0
    for length in range(1, 17):
        for _ in range(counts[length - 1]):
            enc[syms[k]] = (length, code)
            code += 1
            k += 1
        code <<= 1
    return enc


def _encode_tables() -> dict:
    return {name: _canonical_encode_map(*tbl)
            for name, tbl in (("dcl", _HUFF_DC_LUMA),
                              ("dcc", _HUFF_DC_CHROMA),
                              ("acl", _HUFF_AC_LUMA),
                              ("acc", _HUFF_AC_CHROMA))}


class _BitWriter:
    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.n = 0

    def write(self, length: int, code: int) -> None:
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.n += length
        while self.n >= 8:
            self.n -= 8
            b = (self.acc >> self.n) & 0xFF
            self.out.append(b)
            if b == 0xFF:
                self.out.append(0x00)  # byte stuffing
        self.acc &= (1 << self.n) - 1

    def flush(self) -> None:
        if self.n:
            self.write(8 - self.n, 0xFF)  # pad with 1-bits


def _mag_cat(v: int) -> int:
    return 0 if v == 0 else int(abs(v)).bit_length()


def _quant_zigzag(blk: np.ndarray, q: np.ndarray) -> np.ndarray:
    """Spatial 8x8 (level-shifted) -> quantized zigzag-order int64[64]."""
    f = _DCT_A @ blk @ _DCT_A.T
    return np.round(f.ravel()[_ZIGZAG] / q).astype(np.int64)


def _encode_block(bw: _BitWriter, blk: np.ndarray, q: np.ndarray,
                  pred: list, dct: dict, act: dict) -> None:
    coeff = _quant_zigzag(blk, q)
    diff = int(coeff[0]) - pred[0]
    pred[0] = int(coeff[0])
    t = _mag_cat(diff)
    bw.write(*dct[t])
    if t:
        bw.write(t, diff if diff >= 0 else diff + (1 << t) - 1)
    run = 0
    for k in range(1, 64):
        v = int(coeff[k])
        if v == 0:
            run += 1
            continue
        while run > 15:
            bw.write(*act[0xF0])
            run -= 16
        s = _mag_cat(v)
        bw.write(*act[(run << 4) | s])
        bw.write(s, v if v >= 0 else v + (1 << s) - 1)
        run = 0
    if run:
        bw.write(*act[0x00])  # EOB


# Flat canonical table holding EVERY (run, size) symbol 0x00-0xFF:
# Annex K's baseline tables lack the EOBn symbols (r<<4 with size 0,
# r >= 1) progressive scans need, so the progressive twin ships its
# own — 128 symbols at 8 bits + 128 at 9 bits (Kraft sum 0.75, legal).
_FLAT_HUFF = ([0, 0, 0, 0, 0, 0, 0, 128, 128, 0, 0, 0, 0, 0, 0, 0],
              list(range(256)))


def _flat_encode_map() -> dict:
    return _canonical_encode_map(*_FLAT_HUFF)


class _ProgWriter(_BitWriter):
    """BitWriter + progressive EOB-run bookkeeping: EOBn symbols are
    deferred until the next non-EOB symbol (or scan end) so runs
    accumulate, and AC-refinement correction bits buffer until the
    symbol they trail (decoder reads them interleaved)."""

    def __init__(self, table: dict):
        super().__init__()
        self.tab = table
        self.eobrun = 0
        self.pending = []        # correction bits owed to the next flush

    def flush_eobrun(self) -> None:
        if self.eobrun:
            r = self.eobrun.bit_length() - 1
            self.write(*self.tab[r << 4])
            if r:
                self.write(r, self.eobrun - (1 << r))
            self.eobrun = 0
        for bit in self.pending:
            self.write(1, bit)
        self.pending = []

    def symbol(self, sym: int, extra_nbits: int = 0,
               extra: int = 0, trailing=()) -> None:
        self.flush_eobrun()
        self.write(*self.tab[sym])
        if extra_nbits:
            self.write(extra_nbits, extra)
        for bit in trailing:
            self.write(1, bit)

    def add_eob(self, trailing=()) -> None:
        self.eobrun += 1
        self.pending.extend(trailing)
        if self.eobrun == 0x7FFF:
            self.flush_eobrun()

    def end_scan(self) -> bytes:
        self.flush_eobrun()
        self.flush()
        return bytes(self.out)


def _encode_progressive_scans(coefs: list, seg) -> list:
    """Emit the DHT + every SOS/entropy segment of the progressive
    script. `coefs`: per component, (n_blocks, 64) zigzag int64 in
    raster (== 4:4:4 MCU) order."""
    ncomp = len(coefs)
    counts, syms = _FLAT_HUFF
    flat = _flat_encode_map()
    parts = [seg(0xC4, bytes([0x00]) + bytes(counts) + bytes(syms)
                 + bytes([0x10]) + bytes(counts) + bytes(syms))]

    def sos(comp_ids: list, ss: int, se: int, ah: int, al: int) -> bytes:
        body = bytes([len(comp_ids)])
        for cid in comp_ids:
            body += bytes([cid, 0x00])       # td=0, ta=0 (flat tables)
        return seg(0xDA, body + bytes([ss, se, (ah << 4) | al]))

    def mag(v: int) -> tuple[int, int]:
        s = _mag_cat(v)
        return s, (v if v >= 0 else v + (1 << s) - 1)

    # ---- scan 1: interleaved DC first, Al=1
    bw = _ProgWriter(flat)
    pred = [0] * ncomp
    for b in range(coefs[0].shape[0]):
        for ci in range(ncomp):
            v = int(coefs[ci][b, 0]) >> 1            # point transform
            diff = v - pred[ci]
            pred[ci] = v
            s, bits = mag(diff)
            bw.symbol(s, s, bits)
    parts += [sos(list(range(1, ncomp + 1)), 0, 0, 0, 1),
              bw.end_scan()]

    # ---- AC first scans, Al=1, bands 1-5 then 6-63, per component
    for ci in range(ncomp):
        for lo, hi in ((1, 5), (6, 63)):
            bw = _ProgWriter(flat)
            for b in range(coefs[ci].shape[0]):
                band = coefs[ci][b, lo:hi + 1]
                av = np.abs(band) >> 1
                nz = np.nonzero(av)[0]
                if not len(nz):
                    bw.add_eob()
                    continue
                run = 0
                for k in range(int(nz[-1]) + 1):
                    if av[k] == 0:
                        run += 1
                        continue
                    while run > 15:
                        bw.symbol(0xF0)              # ZRL
                        run -= 16
                    v = int(av[k]) if band[k] > 0 else -int(av[k])
                    s, bits = mag(v)
                    bw.symbol((run << 4) | s, s, bits)
                    run = 0
                if int(nz[-1]) < hi - lo:            # trailing zeros
                    bw.add_eob()
            parts += [sos([ci + 1], lo, hi, 0, 1), bw.end_scan()]

    # ---- DC refinement to Al=0 (interleaved, raw bits, no table)
    bw = _ProgWriter(flat)
    for b in range(coefs[0].shape[0]):
        for ci in range(ncomp):
            bw.write(1, int(coefs[ci][b, 0]) & 1)
    parts += [sos(list(range(1, ncomp + 1)), 0, 0, 1, 0), bw.end_scan()]

    # ---- AC refinement scans to Al=0 (G.1.2.3 mirror). The encoder
    # SIMULATES the decoder's advance: each emitted symbol carries
    # exactly the correction bits of the nonzero-HISTORY positions its
    # advance passes — a ZRL consumes 16 zero-history positions plus
    # whatever history bits fall among them, no more.
    for ci in range(ncomp):
        for lo, hi in ((1, 5), (6, 63)):
            bw = _ProgWriter(flat)
            for b in range(coefs[ci].shape[0]):
                band = coefs[ci][b, lo:hi + 1]
                a = np.abs(band)
                newly = np.nonzero(a == 1)[0]        # first bit is bit 0
                if not len(newly):
                    # whole band is one EOB: every history coefficient
                    # owes its correction bit, buffered onto the run
                    bw.add_eob([int(x) & 1 for x in a if x > 1])
                    continue
                i = 0                                # decoder cursor
                for kn in (int(k) for k in newly):
                    r = int(np.count_nonzero(a[i:kn] == 0))
                    while r > 15:
                        zc, bits = 0, []
                        while zc < 16:
                            if a[i] == 0:
                                zc += 1
                            elif a[i] > 1:
                                bits.append(int(a[i]) & 1)
                            i += 1
                        bw.symbol(0xF0, trailing=bits)
                        r -= 16
                    bits = []
                    while i < kn:
                        if a[i] > 1:
                            bits.append(int(a[i]) & 1)
                        i += 1
                    bw.symbol((r << 4) | 1, 1,
                              1 if band[kn] > 0 else 0, trailing=bits)
                    i = kn + 1
                if i < len(band):                    # positions remain
                    bw.add_eob([int(x) & 1 for x in a[i:] if x > 1])
            parts += [sos([ci + 1], lo, hi, 1, 0), bw.end_scan()]
    return parts


def _ycc_planes(img: np.ndarray) -> list:
    """uint8 gray or RGB -> level-shifted Y (or Y, Cb, Cr) float
    planes, edge-padded to multiples of 8."""
    h, w = img.shape[:2]
    if img.ndim == 2:
        planes = [img.astype(np.float64) - 128.0]
    else:
        rgb = img.astype(np.float64)
        r, g, b = rgb[..., 0], rgb[..., 1], rgb[..., 2]
        y = 0.299 * r + 0.587 * g + 0.114 * b - 128.0
        cb = -0.168736 * r - 0.331264 * g + 0.5 * b
        cr = 0.5 * r - 0.418688 * g - 0.081312 * b
        planes = [y, cb, cr]
    ph, pw = -(-h // 8) * 8, -(-w // 8) * 8
    return [np.pad(p, ((0, ph - h), (0, pw - w)), mode="edge")
            for p in planes]


def jpeg_encode(img: np.ndarray, quality: int = 90,
                progressive: bool = False) -> bytes:
    """uint8 (H, W) gray or (H, W, 3) RGB -> JFIF JPEG (4:4:4, Annex K
    quantization scaled by `quality`).

    progressive=True emits SOF2 with a libjpeg-shaped scan script —
    interleaved DC first (Al=1), per-component AC bands 1-5 and 6-63
    first (Al=1), then DC + AC refinements down to Al=0 — so the
    progressive DECODER's every path (spectral selection, successive
    approximation, EOB runs, correction bits) is exercisable
    in-sandbox. Quantized coefficients are identical either way, so
    progressive and baseline decodes of the same image are
    bit-identical."""
    img = np.asarray(img)
    gray = img.ndim == 2
    h, w = img.shape[:2]
    ql = _quality_scale(_Q_LUMA, quality)
    qc = _quality_scale(_Q_CHROMA, quality)
    planes = _ycc_planes(img)
    ph, pw = planes[0].shape

    def seg(marker: int, body: bytes) -> bytes:
        return struct.pack(">BBH", 0xFF, marker, len(body) + 2) + body

    # DQT stores tables in zigzag order; the decoder indexes q by
    # zigzag coefficient position, so encode-side division must too
    qlz, qcz = ql[_ZIGZAG], qc[_ZIGZAG]
    parts = [b"\xff\xd8",
             seg(0xE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00"),
             seg(0xDB, bytes([0]) + bytes(int(v) for v in qlz))]
    ncomp = 1 if gray else 3
    if not gray:
        parts.append(seg(0xDB, bytes([1]) + bytes(int(v) for v in qcz)))
    sof = struct.pack(">BHHB", 8, h, w, ncomp)
    for cid in range(1, ncomp + 1):
        sof += bytes([cid, 0x11, 0 if cid == 1 else 1])
    parts.append(seg(0xC0 if not progressive else 0xC2, sof))
    if progressive:
        qs = [qlz.astype(np.float64)] \
            + [qcz.astype(np.float64)] * (ncomp - 1)
        coefs = []
        for ci, p in enumerate(planes):
            grid = np.zeros((ph // 8, pw // 8, 64), dtype=np.int64)
            for by in range(ph // 8):
                for bx in range(pw // 8):
                    grid[by, bx] = _quant_zigzag(
                        p[by * 8:by * 8 + 8, bx * 8:bx * 8 + 8], qs[ci])
            coefs.append(grid.reshape(-1, 64))
        parts.extend(_encode_progressive_scans(coefs, seg))
        parts.append(b"\xff\xd9")
        return b"".join(parts)
    for tc, th, (counts, syms) in ((0, 0, _HUFF_DC_LUMA),
                                   (1, 0, _HUFF_AC_LUMA),
                                   (0, 1, _HUFF_DC_CHROMA),
                                   (1, 1, _HUFF_AC_CHROMA)):
        if gray and th == 1:
            continue
        parts.append(seg(0xC4, bytes([(tc << 4) | th]) + bytes(counts)
                         + bytes(syms)))
    sos = bytes([ncomp])
    for cid in range(1, ncomp + 1):
        sos += bytes([cid, 0x00 if cid == 1 else 0x11])
    sos += b"\x00\x3f\x00"
    parts.append(seg(0xDA, sos))

    enc = _encode_tables()
    bw = _BitWriter()
    preds = [[0] for _ in range(ncomp)]
    qs = [qlz] + [qcz] * (ncomp - 1)
    tabs = [(enc["dcl"], enc["acl"])] + \
        [(enc["dcc"], enc["acc"])] * (ncomp - 1)
    for by in range(ph // 8):
        for bx in range(pw // 8):
            for ci, p in enumerate(planes):
                blk = p[by * 8:by * 8 + 8, bx * 8:bx * 8 + 8]
                _encode_block(bw, blk, qs[ci].astype(np.float64),
                              preds[ci], *tabs[ci])
    bw.flush()
    parts.append(bytes(bw.out))
    parts.append(b"\xff\xd9")
    return b"".join(parts)
