"""Codec primitives shared by every codec: bit-packing, var-width buffers.

All codecs are pure NumPy/bytes functions — no Spark, no JVM — so they unit
test in microseconds and run vectorized inside Arrow UDFs.  This replaces
the reference's delegation of encoding to parquet-avro
(reference: RecordWriter.java:27-34 builds an AvroParquetWriter with
dictionary encoding + Snappy; here the encodings are first-class).

Two value shapes flow through the codec layer:

* fixed-width: a ``np.ndarray`` of int64 / float64 / bool (timestamps are
  int64 microseconds; the Arrow type is restored at the chunk layer).
* var-width:  a ``(data: bytes, offsets: np.int64[n+1])`` pair for
  string / binary columns — offsets index into ``data``; this mirrors the
  Arrow layout so the hot path never materialises per-row Python objects.

Codec contract (duck-typed, see each module):
    encode_*(...) -> (payload: bytes, meta: dict)
    decode_*(payload, meta, n) -> values in the same shape
``meta`` must be JSON-serialisable and small (scalars only).

Every frame-of-reference in the layer (FOR and delta-FOR values, RLE run
lengths, var-width lengths) goes through :func:`for_frame`, which picks
the narrower of the unsigned and the signed base, so mixed-sign integers
pack at the width of their signed range.
"""

from __future__ import annotations

import numpy as np

# --- codec ids (stable on disk — never renumber) -------------------------
PLAIN = 0
DICT = 1
RLE = 2
FOR = 3          # frame-of-reference + bit-pack
DELTA_FOR = 4    # delta, then frame-of-reference + bit-pack
FSST = 5
BSS = 6          # byte-stream split (per-byte planes; wins via zlib stage)

CODEC_NAMES = {PLAIN: "plain", DICT: "dict", RLE: "rle", FOR: "for",
               DELTA_FOR: "delta_for", FSST: "fsst", BSS: "bss"}
CODEC_IDS = {v: k for k, v in CODEC_NAMES.items()}


# --- bit-packing ----------------------------------------------------------

def bit_width(max_val: int) -> int:
    """Bits needed to represent values in [0, max_val]; 0 for max_val==0."""
    return int(max_val).bit_length() if max_val > 0 else 0


def _lane_layout(width: int):
    """Per-64-value-block (word, shift) layout for ``width``-bit packing.

    64 values at ``width`` bits fill exactly ``width`` uint64 words, and the
    placement of value k within its block is the same for every block — so
    packing is 64 vectorized shift/OR ops over n/64-length lanes instead of
    exploding an (n, width) bit matrix (8× the memory traffic; flagged by
    the round-1 bench as the top CPU sink in the encode hot path).
    """
    lanes = []
    for k in range(64):
        pos = k * width
        q, r = pos >> 6, pos & 63
        spill = r + width > 64  # value straddles into word q+1
        lanes.append((q, r, spill))
    return lanes


def bitpack(vals: np.ndarray, width: int) -> bytes:
    """Pack unsigned ints (uint64 view) at ``width`` bits each, LSB-first.

    Word-wise shift-accumulate into uint64 lanes; byte layout is identical
    to the little-endian bit stream (bit j of the stream lands in byte j>>3,
    bit j&7), so the on-disk DMC2 format is unchanged.
    width==0 means all-zero values → empty payload.
    """
    n = len(vals)
    if width == 0 or n == 0:
        return b""
    v = np.ascontiguousarray(vals, dtype="<u8")
    m = (n + 63) >> 6                      # 64-value blocks
    if n != m << 6:
        pad = np.zeros(m << 6, dtype="<u8")
        pad[:n] = v
        v = pad
    if width < 64:
        # the packbits path truncated to ``width`` bits implicitly; stray
        # high bits would bleed into neighboring lanes here
        v = v & np.uint64((1 << width) - 1)
    V = v.reshape(m, 64)
    words = np.zeros((m, width), dtype="<u8")
    for k, (q, r, spill) in enumerate(_lane_layout(width)):
        col = V[:, k]
        words[:, q] |= col << np.uint64(r)
        if spill:
            words[:, q + 1] |= col >> np.uint64(64 - r)
    nbytes = (n * width + 7) >> 3
    return words.tobytes()[:nbytes]


def bitunpack(buf: bytes, n: int, width: int) -> np.ndarray:
    """Inverse of :func:`bitpack` → uint64 array of length n."""
    if n == 0:
        return np.empty(0, dtype=np.uint64)
    if width == 0:
        return np.zeros(n, dtype=np.uint64)
    m = (n + 63) >> 6
    need = m * width * 8
    if len(buf) < need:
        buf = bytes(buf) + b"\x00" * (need - len(buf))
    words = np.frombuffer(buf, dtype="<u8", count=m * width).reshape(m, width)
    out = np.empty((m, 64), dtype="<u8")
    mask = np.uint64((1 << width) - 1) if width < 64 else np.uint64(0xFFFFFFFFFFFFFFFF)
    for k, (q, r, spill) in enumerate(_lane_layout(width)):
        lo = words[:, q] >> np.uint64(r)
        if spill:
            lo = lo | (words[:, q + 1] << np.uint64(64 - r))
        out[:, k] = lo & mask
    return out.reshape(-1)[:n].astype(np.uint64, copy=False)


# --- frame-of-reference on raw uint64 (modular, exact for any int64) ------

_SIGN = 1 << 63


def for_frame(v: np.ndarray) -> tuple[int, int]:
    """(base, top) of the narrower exact frame over a uint64 array.

    The unsigned frame's base is the uint64 minimum; the signed frame's is
    the int64 minimum, stored as its uint64 image.  Residuals are
    ``v - base`` (mod 2^64) in ``[0, top]`` under either, so one modular
    decoder (``resid + uint64(base)``) serves both.  The frames differ only
    when values straddle 2^63 as uint64 (mixed signs as int64); then the
    narrower wins and a tie keeps the unsigned frame, so data that never
    mixes signs packs exactly as it did before the signed frame.
    """
    lo, hi = int(v.min()), int(v.max())
    if lo < _SIGN <= hi:
        s = v.view(np.int64)
        slo, shi = int(s.min()), int(s.max())
        if shi - slo < hi - lo:
            return slo % (1 << 64), shi - slo
    return lo, hi - lo


def for_pack_u64(vals_u64: np.ndarray) -> tuple[bytes, int, int]:
    """FOR-pack a uint64 array: subtract the frame base (mod 2^64), bit-pack
    the residuals (see :func:`for_frame`).

    Returns (payload, base_as_python_int, width).  Exact for any int64
    column viewed as uint64 because subtraction/addition are modular.
    """
    v = np.ascontiguousarray(vals_u64, dtype=np.uint64)
    if len(v) == 0:
        return b"", 0, 0
    base, top = for_frame(v)
    width = bit_width(top)
    return bitpack(v - np.uint64(base), width), base, width


def for_unpack_u64(payload: bytes, n: int, base: int, width: int) -> np.ndarray:
    resid = bitunpack(payload, n, width)
    return resid + np.uint64(base)


# --- var-width (string/binary) buffer helpers -----------------------------

def offsets_from_lengths(lengths: np.ndarray) -> np.ndarray:
    out = np.empty(len(lengths) + 1, dtype=np.int64)
    out[0] = 0
    np.cumsum(lengths, out=out[1:])
    return out


def pack_lengths(lengths: np.ndarray) -> tuple[bytes, dict]:
    """FOR-bitpack a lengths array (always non-negative)."""
    payload, base, width = for_pack_u64(lengths.astype(np.uint64))
    return payload, {"lb": base, "lw": width, "ln": int(len(lengths))}


def unpack_lengths(payload: bytes, meta: dict) -> np.ndarray:
    return for_unpack_u64(payload, meta["ln"], meta["lb"], meta["lw"]).astype(np.int64)


def varbytes_to_objects(data: bytes, offsets: np.ndarray) -> np.ndarray:
    """(data, offsets) → object ndarray of bytes (for np.unique / compares)."""
    n = len(offsets) - 1
    out = np.empty(n, dtype=object)
    mv = memoryview(data)
    off = offsets
    for i in range(n):
        out[i] = bytes(mv[off[i]:off[i + 1]])
    return out


def objects_to_varbytes(objs) -> tuple[bytes, np.ndarray]:
    """Iterable of bytes → (data, offsets)."""
    lengths = np.fromiter((len(o) for o in objs), dtype=np.int64,
                          count=len(objs))
    return b"".join(objs), offsets_from_lengths(lengths)
