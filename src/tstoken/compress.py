"""Gorilla-style compressed tier blocks (north rule; no reference
counterpart — SURVEY.md §1.4).

Codecs per Pelkonen et al., "Gorilla: A Fast, Scalable, In-Memory Time
Series Database" (VLDB 2015), with a widened escape tier (codec tag
"gorilla+dod2"):
  - timestamps: 32-bit count; 64-bit first value; 64-bit first delta;
    then delta-of-delta with the paper's bucket widths plus a width
    flag on the escape ('0' | '10'+7b | '110'+9b | '1110'+12b |
    '1111'+'0'+32b | '1111'+'1'+64b). The paper's bare 32-bit escape
    and 32-bit first delta (codec "gorilla+dod") wrapped on epoch-
    second gaps >= 2^31 s — found by the hypothesis round-trip
    property.
  - float64 values: XOR with previous; '0' if identical, '10' +
    meaningful bits if window fits the previous one, '11' + 5b leading
    + 6b length + bits otherwise.

decompress_blocks refuses rows whose codec column is not CODEC: a
block written under a different wire format would otherwise decode
silently to garbage (the 64-bit read consumes the old 32-bit field
plus stream bits with no framing error). Blocks persisted by the
round-2 "gorilla+dod" (v1) writer are decodable via the explicit
opt-in `decompress_blocks(..., migrate_v1=True)` or re-encoded in
bulk by `recompress_v1_blocks` — the default stays a hard refusal so
a mixed-format table can never half-decode silently.

Blocks are stored as binary columns per (source, tier, chunk) row:
(source, chunk, ts_block, val_block, n_points, codec). Encoding runs
inside applyInPandas over per-source chunks — bit twiddling on NumPy
arrays, Arrow-batched, never row-at-a-time over Spark rows.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (BinaryType, IntegerType, StringType,
                               StructField, StructType)

CODEC = "gorilla+dod2"
CODEC_V1 = "gorilla+dod"  # round-2 wire format: decode-only, opt-in


class _BitWriter:
    __slots__ = ("buf", "acc", "nbits")

    def __init__(self):
        self.buf = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, value: int, nbits: int):
        self.acc = (self.acc << nbits) | (value & ((1 << nbits) - 1))
        self.nbits += nbits
        while self.nbits >= 8:
            self.nbits -= 8
            self.buf.append((self.acc >> self.nbits) & 0xFF)
        self.acc &= (1 << self.nbits) - 1

    def getvalue(self) -> bytes:
        if self.nbits:
            return bytes(self.buf) + bytes([(self.acc << (8 - self.nbits)) & 0xFF])
        return bytes(self.buf)


class _BitReader:
    __slots__ = ("data", "pos", "end")

    def __init__(self, data: bytes):
        self.data = data
        self.pos = 0  # bit position
        self.end = 8 * len(data)

    def read(self, nbits: int) -> int:
        out = 0
        pos = self.pos
        if pos + nbits > self.end:
            raise ValueError("corrupt block: read past the block end")
        for _ in range(nbits):
            byte = self.data[pos >> 3]
            out = (out << 1) | ((byte >> (7 - (pos & 7))) & 1)
            pos += 1
        self.pos = pos
        return out


def encode_timestamps(ts: np.ndarray) -> bytes:
    """Delta-of-delta encode int64 epoch seconds."""
    ts = np.asarray(ts, dtype=np.int64)
    w = _BitWriter()
    n = ts.shape[0]
    w.write(n, 32)
    if n == 0:
        return w.getvalue()
    w.write(int(ts[0]) & ((1 << 64) - 1), 64)
    if n == 1:
        return w.getvalue()
    # 64-bit first delta: epoch-second gaps can exceed 2^31 (a >68-year
    # gap is degenerate data but must round-trip, not wrap — found by
    # the hypothesis codec property). +4 bytes on a 4096-point block.
    first_delta = int(ts[1] - ts[0])
    w.write(first_delta & ((1 << 64) - 1), 64)
    deltas = np.diff(ts)
    dods = np.diff(deltas)
    for d in dods:
        d = int(d)
        if d == 0:
            w.write(0, 1)
        elif -63 <= d <= 64:
            w.write(0b10, 2)
            w.write(d + 63, 7)
        elif -255 <= d <= 256:
            w.write(0b110, 3)
            w.write(d + 255, 9)
        elif -2047 <= d <= 2048:
            w.write(0b1110, 4)
            w.write(d + 2047, 12)
        elif -(1 << 31) <= d < (1 << 31):
            w.write(0b1111, 4)
            w.write(0, 1)
            w.write(d & ((1 << 32) - 1), 32)
        else:
            # 64-bit escape for delta-of-deltas past the 32-bit tier
            w.write(0b1111, 4)
            w.write(1, 1)
            w.write(d & ((1 << 64) - 1), 64)
    return w.getvalue()


def _check_count(n: int, block: bytes) -> None:
    """Bound the decoded point count by the block's information
    capacity BEFORE allocating the output array: every point beyond
    the second costs at least 1 stream bit, so n can never exceed
    8*len(block) + 2 (timestamps and values alike). A truncated/corrupt
    block whose first 4 bytes decode to a huge n must raise the
    documented ValueError, not attempt a multi-GiB np.empty and die
    with MemoryError (ADVICE r4)."""
    if n > 8 * len(block) + 2:
        raise ValueError(
            f"corrupt block: count {n} exceeds the "
            f"{len(block)}-byte block's capacity")


def decode_timestamps(block: bytes) -> np.ndarray:
    r = _BitReader(block)
    n = r.read(32)
    _check_count(n, block)
    if n == 0:
        return np.empty(0, dtype=np.int64)
    t0 = r.read(64)
    if t0 >= 1 << 63:
        t0 -= 1 << 64
    out = np.empty(n, dtype=np.int64)
    out[0] = t0
    if n == 1:
        return out
    delta = r.read(64)
    if delta >= 1 << 63:
        delta -= 1 << 64
    try:
        t = t0 + delta
        out[1] = t
        for i in range(2, n):
            delta += _read_dod(r)
            t += delta
            out[i] = t
    except OverflowError:
        raise ValueError("corrupt timestamp block: timestamps overflow "
                         "int64") from None
    return out


def _read_dod(r: _BitReader) -> int:
    """One v2 delta-of-delta: '0' | '10'+7b | '110'+9b | '1110'+12b |
    '1111'+'0'+32b | '1111'+'1'+64b."""
    if r.read(1) == 0:
        return 0
    if r.read(1) == 0:
        return r.read(7) - 63
    if r.read(1) == 0:
        return r.read(9) - 255
    if r.read(1) == 0:
        return r.read(12) - 2047
    if r.read(1) == 0:
        dod = r.read(32)
        return dod - (1 << 32) if dod >= 1 << 31 else dod
    dod = r.read(64)
    return dod - (1 << 64) if dod >= 1 << 63 else dod


def decode_timestamps_v1(block: bytes) -> np.ndarray:
    """Decode a round-2 "gorilla+dod" (v1) timestamp block.

    v1 wire format: 32-bit count; 64-bit first value; 32-bit first
    delta; dod buckets as v2 except the escape is flag-less
    '1111'+32b. Correct for every block v1 could have produced from
    in-range data; inputs that overflowed v1's 32-bit fields were
    corrupted AT ENCODE TIME (the wrap that motivated v2) and are not
    recoverable by any decoder. The value codec is unchanged between
    v1 and v2.

    Tag-ambiguity guard: one intermediate build wrote the v2 wire
    format under the OLD tag (the overflow fix landed one commit
    before the tag bump), so the tag alone does not prove v1 framing.
    Mis-framing a v2 stream as v1 (a 32-bit read of a 64-bit field
    shifts every subsequent bit) either overruns the block or — since
    genuine blocks are encoded from bucket_ts-sorted points, hence
    non-decreasing (equal seconds are legal: dod 0) — produces a
    backwards timestamp step with overwhelming probability, and a
    mis-framed stream that survives both checks essentially never
    consumes the whole block (a genuine v1 decode always lands within
    the final padding byte); all three raise ValueError instead of
    returning garbage. Decode such blocks with decode_timestamps and
    relabel them."""
    not_v1 = ("not v1-framed (likely a v2-wire block carrying the old "
              "tag — decode with decode_timestamps and relabel)")
    r = _BitReader(block)
    try:
        n = r.read(32)
        _check_count(n, block)
        if n == 0:
            return np.empty(0, dtype=np.int64)
        t0 = r.read(64)
        if t0 >= 1 << 63:
            t0 -= 1 << 64
        out = np.empty(n, dtype=np.int64)
        out[0] = t0
        if n == 1:
            return out
        delta = r.read(32)
        if delta >= 1 << 31:
            delta -= 1 << 32
        out[1] = out[0] + delta
        for i in range(2, n):
            tag = r.read(1)
            if tag == 0:
                dod = 0
            else:
                tag2 = r.read(1)
                if tag2 == 0:
                    dod = r.read(7) - 63
                else:
                    tag3 = r.read(1)
                    if tag3 == 0:
                        dod = r.read(9) - 255
                    else:
                        tag4 = r.read(1)
                        if tag4 == 0:
                            dod = r.read(12) - 2047
                        else:
                            dod = r.read(32)
                            if dod >= 1 << 31:
                                dod -= 1 << 32
            delta += dod
            out[i] = out[i - 1] + delta
    except ValueError as e:
        raise ValueError(f"v1 {e}: {not_v1}") from None
    if n > 1 and not (np.diff(out) >= 0).all():
        raise ValueError(
            f"v1 decode produced non-monotonic timestamps: {not_v1}")
    if n > 1 and r.pos < 8 * len(block) - 7:
        # a genuine v1 encoder emits exactly the stream then pads to
        # the byte boundary, so a correct decode always lands within
        # 7 bits of the block end; a mis-framed v2 stream that
        # happened to decode non-decreasing essentially never consumes
        # the whole block (ADVICE r4: strengthens the probabilistic
        # tag-ambiguity guard). n<=1 blocks are bit-identical between
        # v1 and v2, so no ambiguity exists there.
        raise ValueError(
            f"v1 decode consumed only {r.pos} of {8 * len(block)} "
            f"block bits: {not_v1}")
    return out


def encode_values(vals: np.ndarray) -> bytes:
    """Gorilla XOR-encode float64 values."""
    bits = np.asarray(vals, dtype=np.float64).view(np.uint64)
    w = _BitWriter()
    n = bits.shape[0]
    w.write(n, 32)
    if n == 0:
        return w.getvalue()
    w.write(int(bits[0]), 64)
    prev = int(bits[0])
    prev_lead, prev_tail = 65, 65  # invalid → force new window first time
    for i in range(1, n):
        cur = int(bits[i])
        xor = prev ^ cur
        if xor == 0:
            w.write(0, 1)
        else:
            lead = 64 - xor.bit_length()
            if lead > 31:
                lead = 31
            tail = (xor & -xor).bit_length() - 1
            if prev_lead <= lead and prev_tail <= tail:
                w.write(0b10, 2)
                nmean = 64 - prev_lead - prev_tail
                w.write(xor >> prev_tail, nmean)
            else:
                w.write(0b11, 2)
                nmean = 64 - lead - tail
                w.write(lead, 5)
                w.write(nmean & 0x3F, 6)  # 64 encodes as 0
                w.write(xor >> tail, nmean)
                prev_lead, prev_tail = lead, tail
        prev = cur
    return w.getvalue()


def decode_values(block: bytes) -> np.ndarray:
    r = _BitReader(block)
    n = r.read(32)
    _check_count(n, block)
    out = np.empty(n, dtype=np.uint64)
    if n == 0:
        return out.view(np.float64)
    prev = r.read(64)
    out[0] = prev
    lead, tail = 0, 0
    for i in range(1, n):
        tag = r.read(1)
        if tag == 0:
            out[i] = prev
            continue
        tag2 = r.read(1)
        if tag2 == 1:
            lead = r.read(5)
            nmean = r.read(6)
            if nmean == 0:
                nmean = 64
            tail = 64 - lead - nmean
        else:
            nmean = 64 - lead - tail
        xor = r.read(nmean) << tail
        prev ^= xor
        out[i] = prev
    return out.view(np.float64)


BLOCK_SCHEMA = StructType([
    StructField("source", StringType()),
    StructField("chunk", IntegerType()),
    StructField("ts_block", BinaryType()),
    StructField("val_block", BinaryType()),
    StructField("n_points", IntegerType()),
    StructField("codec", StringType()),
])


def _encode_group(pdf: pd.DataFrame) -> pd.DataFrame:
    pdf = pdf.sort_values("bucket_ts")
    ts = (pdf["bucket_ts"].astype("int64") // 10 ** 9).to_numpy()
    vals = pdf["value"].to_numpy(dtype=np.float64)
    return pd.DataFrame({
        "source": [pdf["source"].iloc[0]],
        "chunk": [int(pdf["chunk"].iloc[0])],
        "ts_block": [encode_timestamps(ts)],
        "val_block": [encode_values(vals)],
        "n_points": [len(ts)],
        "codec": [CODEC],
    })


def compress_tier(rollup: DataFrame, value_col: str = "sum_n_tok",
                  points_per_chunk: int = 4096,
                  tier: str = "1m") -> DataFrame:
    """Tier → blocks_<tier>: one row per (source, chunk).

    Chunk ids are epoch // (points_per_chunk * tier_seconds), so a full
    chunk holds ~points_per_chunk points at EVERY tier — the round-2
    hard-coded 60 s framing collapsed 1h blocks to ~68 points and 1d
    blocks to ~3, defeating the 4096-point codec framing."""
    from .rollup import TIER_SECONDS

    secs = TIER_SECONDS[tier]
    src = rollup.select(
        "source", "bucket_ts", F.col(value_col).cast("double").alias("value"),
        (F.floor(F.col("bucket_ts").cast("long") /
                 F.lit(points_per_chunk * secs))).cast("int").alias("chunk"))
    return src.groupBy("source", "chunk").applyInPandas(
        _encode_group, schema=BLOCK_SCHEMA)


def decompress_blocks(blocks: DataFrame, migrate_v1: bool = False) -> DataFrame:
    """blocks_<tier> → (source, bucket_ts, value).

    migrate_v1=True additionally accepts round-2 "gorilla+dod" (v1)
    blocks, routed through decode_timestamps_v1 — an explicit opt-in
    so the default can never half-decode a mixed-format table. For a
    one-shot table upgrade use recompress_v1_blocks instead."""
    from pyspark.sql.types import DoubleType, TimestampType

    out_schema = StructType([
        StructField("source", StringType()),
        StructField("bucket_ts", TimestampType()),
        StructField("value", DoubleType()),
    ])

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        frames = []
        for row in pdf.itertuples(index=False):
            if row.codec == CODEC:
                ts = decode_timestamps(row.ts_block)
            elif migrate_v1 and row.codec == CODEC_V1:
                ts = decode_timestamps_v1(row.ts_block)
            else:
                raise ValueError(
                    f"block codec {row.codec!r} != {CODEC!r}: refusing "
                    "to decode a foreign wire format (a gorilla+dod "
                    "block would mis-decode silently, not error); pass "
                    "migrate_v1=True to read v1 blocks explicitly")
            vals = decode_values(row.val_block)
            frames.append(pd.DataFrame({
                "source": row.source,
                "bucket_ts": pd.to_datetime(ts, unit="s"),
                "value": vals,
            }))
        if not frames:
            return pd.DataFrame({"source": pd.Series(dtype="object"),
                                 "bucket_ts": pd.Series(dtype="datetime64[ns]"),
                                 "value": pd.Series(dtype="float64")})
        return pd.concat(frames, ignore_index=True)

    return blocks.groupBy("source").applyInPandas(fn, schema=out_schema)


def recompress_v1_blocks(blocks: DataFrame) -> DataFrame:
    """One-shot migration job: re-encode v1 "gorilla+dod" blocks as v2.

    Rows already tagged CODEC pass through untouched (byte-identical);
    v1 rows are decoded with decode_timestamps_v1 and re-encoded under
    the v2 wire format, preserving (source, chunk) framing. Any other
    codec tag still raises. Runs as a mapInPandas over block rows —
    one Arrow batch per partition, no shuffle."""
    def fn(batches):
        for pdf in batches:
            out = pdf.copy()
            for i, row in enumerate(pdf.itertuples(index=False)):
                if row.codec == CODEC:
                    continue
                if row.codec != CODEC_V1:
                    raise ValueError(
                        f"block codec {row.codec!r} is neither {CODEC!r} "
                        f"nor {CODEC_V1!r}: cannot migrate an unknown "
                        "wire format")
                ts = decode_timestamps_v1(row.ts_block)
                out.iat[i, out.columns.get_loc("ts_block")] = \
                    encode_timestamps(ts)
                out.iat[i, out.columns.get_loc("codec")] = CODEC
            yield out

    return blocks.mapInPandas(fn, schema=blocks.schema)
