"""Sampling-based per-column-chunk codec auto-selection.

The north_rule's "sampling-based codec auto-selector that picks the winner
per column-chunk by estimated compressed size": draw a deterministic row
sample (seeded from the column name and the chunk's row count, so the same
rows pick the same codecs in any store, bucket or run — SURVEY.md §7.4),
encode the sample under every applicable codec, extrapolate to the full
chunk, encode the full chunk with the winner, and guard the floor: if the
winner somehow exceeds PLAIN's size the chunk falls back to PLAIN, so
encoded size is never worse than raw + O(1) header.

Two exact integer stages ride on the fixed-width menu without adding a
codec: FOR divides out its residuals' common factor (forpack.py), and a
float64 chunk whose every value is an exact decimal ``k / 10^e`` offers
its integers ``k`` to the same trial round as its bit pattern
(select_encode_fixed).

A final optional byte-level pass plays the role Snappy page compression
plays in the reference sink (reference: RecordWriter.java:29
``CompressionCodecName.SNAPPY``): a general stage layered over the
lightweight encodings, applied only when it actually shrinks the payload
by ≥ 1/8.  The compressor is Zstandard level 3 through pyarrow's bundled
codec (measured on the web-page fixture: 2.5× the compression speed of
zlib-1 AND a better ratio on text, 3× its decompression speed).  The
stored flag is 0 (no byte stage) or 2 (size-prefixed zstd); any other
flag — 1 marked the zlib stage of early chunks — is refused with
ValueError rather than handed to a codec decoder as raw bytes.
"""

from __future__ import annotations

import numpy as np

from . import base
from .base import BSS, DELTA_FOR, DICT, FOR, FSST, PLAIN, RLE
from .bss import decode_bss_fixed, encode_bss_fixed
from .dictionary import (decode_dict_fixed, decode_dict_var,
                         encode_dict_fixed, encode_dict_var)
from .forpack import (decode_delta_for, decode_for, encode_delta_for,
                      encode_for)
from .fsst import FsstInapplicable, decode_fsst_var, encode_fsst_var
from .plain import (decode_plain_fixed, decode_plain_var, encode_plain_fixed,
                    encode_plain_var)
from .rle import (decode_rle_fixed, decode_rle_var, encode_rle_fixed,
                  encode_rle_var)

# kind → applicable codecs (ints are int64 views; ts are int64 µs).
# BSS is in both menus: float bit patterns (embeddings) are its primary
# target, but near-constant high bytes of small-range ints win too —
# the zlib-aware estimate picks it only when transpose+zlib beats the
# alternatives' final stored size.
FIXED_INT_CODECS = (PLAIN, DICT, RLE, FOR, DELTA_FOR, BSS)
VAR_CODECS = (PLAIN, DICT, RLE, FSST)

_ENC_FIXED = {PLAIN: encode_plain_fixed, DICT: encode_dict_fixed,
              RLE: encode_rle_fixed, FOR: encode_for,
              DELTA_FOR: encode_delta_for, BSS: encode_bss_fixed}
_DEC_FIXED = {PLAIN: decode_plain_fixed, DICT: decode_dict_fixed,
              RLE: decode_rle_fixed, FOR: decode_for,
              DELTA_FOR: decode_delta_for, BSS: decode_bss_fixed}
_ENC_VAR = {PLAIN: encode_plain_var, DICT: encode_dict_var,
            RLE: encode_rle_var, FSST: encode_fsst_var}
_DEC_VAR = {PLAIN: decode_plain_var, DICT: decode_dict_var,
            RLE: decode_rle_var, FSST: decode_fsst_var}

SAMPLE_ROWS = 1024
SAMPLE_ROWS_VAR = 512    # var-width sample encodes pay per byte; keep lean
SAMPLE_BYTES_VAR = 128 * 1024  # and cache-resident: wide rows (html) shrink
MIN_SAMPLE_ROWS_VAR = 48       # the row count, never below this floor
ZSTD_LEVEL = 3
ZLIB_MIN_GAIN = 0.875    # keep the byte stage only if it shrinks below 7/8
COMP_ZSTD = 2
# decimal stage: float64 values that are int64 / 10^e, e ≤ DEC_MAX_EXP;
# every power is exact in float64 (10^15 < 2^53), and so is every integer
# below DEC_LIMIT, so int64 → float64 / 10^e is one correctly rounded op
DEC_MAX_EXP = 15
DEC_LIMIT = float(2 ** 53)
_POW10 = np.array([float(10 ** e) for e in range(DEC_MAX_EXP + 1)])
# PLAIN of the integers is never smaller than PLAIN of the bit pattern
DEC_CODECS = tuple(c for c in FIXED_INT_CODECS if c != PLAIN)


def _zstd():
    # lazy singleton: pyarrow Codec objects are cheap but not free, and
    # selector.py must stay importable without pyarrow for pure-numpy use
    global _ZSTD_CODEC
    try:
        return _ZSTD_CODEC
    except NameError:
        import pyarrow as _pa
        _ZSTD_CODEC = _pa.Codec("zstd", compression_level=ZSTD_LEVEL)
        return _ZSTD_CODEC


def _zstd_compress(buf: bytes) -> bytes:
    # 8-byte LE uncompressed-size prefix makes the payload self-contained
    # (pyarrow's zstd decompress requires the exact output size)
    import struct as _struct
    return _struct.pack("<Q", len(buf)) + bytes(_zstd().compress(buf))


def _zstd_decompress(payload: bytes) -> bytes:
    import struct as _struct
    (ub,) = _struct.unpack_from("<Q", payload)
    return _zstd().decompress(memoryview(payload)[8:], ub).to_pybytes()


def stable_seed(*parts) -> int:
    """Deterministic 32-bit seed from identifying parts (no wall clock)."""
    h = 2166136261
    for p in parts:
        for b in str(p).encode():
            h = ((h ^ b) * 16777619) & 0xFFFFFFFF
    return h


def _est_stored(payload) -> int:
    """Estimated FINAL stored size of a candidate's sample payload: the
    smaller of raw and byte-stage-compressed.  Matching the real storage
    decision (_maybe_zlib runs on the winner) is what lets transform-style
    codecs like BSS — size-neutral before the byte stage — win selection
    exactly when they should."""
    raw = _plen(payload)
    if raw < 64:
        return raw
    z = len(_zstd_compress(_as_bytes(payload)))
    # mirror _maybe_zlib's acceptance rule: a byte-stage pass that doesn't
    # clear the ≥1/8 gain bar is DISCARDED at storage time, so the estimate
    # must fall back to raw too — otherwise a codec whose gain hovers just
    # under the bar gets credited a size it will never store at
    return z if z < ZLIB_MIN_GAIN * raw else raw


def _sample_idx(n: int, seed: int, k: int = SAMPLE_ROWS) -> np.ndarray:
    if n <= k:
        return np.arange(n)
    rng = np.random.default_rng(seed)
    return np.sort(rng.choice(n, size=k, replace=False))


def _decimal_survivors(v: np.ndarray, pow10: np.ndarray) -> np.ndarray:
    """Mask (per value, per exponent): does ``v`` come back bit-exactly
    from ``int64(rint(v·10^e)) → float64 / 10^e`` — the decimal stage's
    decode — with the integer below 2^53?  False for NaN, ±inf and -0.0
    (its integer is +0)."""
    with np.errstate(over="ignore", invalid="ignore"):
        x = np.rint(v * pow10)
        back = x.astype(np.int64).astype(np.float64) / pow10
    return (np.abs(x) < DEC_LIMIT) & (back.view(np.int64) == v.view(np.int64))


def _decimal_ints(vals: np.ndarray, sample: np.ndarray):
    """→ (e, int64 values) for the smallest e in 0..DEC_MAX_EXP at which
    every float64 value is an exact decimal, else None.  The sample picks
    or rejects e before the full chunk is touched; a full-chunk failure
    moves e up to what the failing values need, and re-checks."""
    if not len(vals):
        return None
    cols = _POW10[None, :]
    ok = _decimal_survivors(sample[:, None], cols).all(axis=0)
    while ok.any():
        e = int(ok.argmax())
        bad = ~_decimal_survivors(vals, _POW10[e])
        if not bad.any():
            with np.errstate(over="ignore", invalid="ignore"):
                return e, np.rint(vals * _POW10[e]).astype(np.int64)
        ok = _decimal_survivors(vals[bad][:, None], cols).all(axis=0)
        ok[:e + 1] = False
    return None


def select_encode_fixed(vals: np.ndarray, seed: int,
                        plain: bool = False) -> tuple[int, bool, bytes, dict, dict]:
    """Returns (codec_id, zlibbed, payload, meta, selection_info).

    ``plain=True`` stores PLAIN with no sampling, no trial encodes and no
    byte stage (the engine's fallback after a codec failure); a float
    column then keeps its native payload, with no ``__f`` bit view.

    Float arrays are encoded as their IEEE-754 bit pattern viewed as
    integers: value-level float codecs collapse distinct NaN payloads
    (``np.unique`` treats every NaN as equal), which breaks the bit-identity
    round-trip contract.  The bit view is exact for every float — NaN
    payloads, signed zeros, infinities — and opens the integer codec menu
    (FOR keeps float32 bits at ≤ 4 bytes/value despite the int64 bridge).

    Decimal stage (float64 only, after ALP / BtrBlocks' pseudodecimals):
    when every value of the chunk is ``k / 10^e`` bit-exactly for int64
    ``k`` below 2^53 and some e ≤ DEC_MAX_EXP, the integers ``k`` compete
    with the bit pattern in the same trial round; a decimal winner stores
    ``{"__d": e, "in": <codec meta>}``, which a reader that predates the
    stage refuses on a missing key.  Any value that fails the check
    (-0.0, NaN, ±inf, too many digits) keeps the whole chunk on the bit
    pattern, whose bytes do not change.
    """
    if plain:
        payload, meta = encode_plain_fixed(vals)
        return PLAIN, False, payload, meta, {"est": {}, "n": len(vals)}
    n = len(vals)
    idx = _sample_idx(n, seed)
    bits, dec = vals, None
    if vals.dtype.kind == "f":
        if vals.dtype.itemsize == 8:
            bits = vals.view(np.int64)
            dec = _decimal_ints(vals, vals[idx])
        else:
            bits = vals.view(f"u{vals.dtype.itemsize}").astype(np.int64)
    streams = [(None, bits, FIXED_INT_CODECS)]
    if dec is not None:
        streams.append((*dec, DEC_CODECS))
    # ORDER-SENSITIVE codecs (delta, RLE) must be estimated on a contiguous
    # run: a scattered sample inflates deltas ~n/k× and shatters runs, so
    # they lose selection on exactly the data they are best at (sorted
    # timestamps, host-major lang runs)
    start = 0 if n <= SAMPLE_ROWS else seed % (n - SAMPLE_ROWS)
    ests, trials = {}, []
    for e, src, menu in streams:
        sample, run = src[idx], src[start:start + SAMPLE_ROWS]
        for c in menu:
            try:
                part = run if c in (DELTA_FOR, RLE) else sample
                p, _ = _ENC_FIXED[c](part)
                est = int(_est_stored(p) * (n / max(len(part), 1)))
            except Exception:
                continue
            if e is None:
                ests[c] = est
            # ties go to the bit pattern (no stage to undo on decode)
            trials.append((est, e is not None, c, e, src))
    _, _, winner, e, src = min(trials, key=lambda t: t[:3])
    payload, meta = _ENC_FIXED[winner](src)
    if winner != PLAIN:
        # floor: never store worse than PLAIN.  PLAIN's payload size is the
        # raw buffer — computable without encoding (the round-1 bench showed
        # the unconditional re-encode here as a top encode-wall sink).
        # STRICT comparison — a size-neutral transform (BSS) must survive
        # to the zlib stage, which is where its win materialises.
        plain_size = np.ascontiguousarray(bits).nbytes
        if plain_size < len(payload):
            winner, e, (payload, meta) = \
                PLAIN, None, encode_plain_fixed(bits)
    if e is not None:
        meta = {"__d": e, "in": meta}
    elif vals.dtype.kind == "f":
        meta = {**meta, "__f": vals.dtype.str}
    payload, zlibbed = _maybe_zlib(payload)
    return winner, zlibbed, payload, meta, {"est": ests, "n": n}


def _plen(payload) -> int:
    if isinstance(payload, list):
        return sum(len(p) for p in payload)
    return len(payload)


def select_encode_var(data, offsets: np.ndarray, seed: int,
                      plain: bool = False) -> tuple[int, bool, object, dict, dict]:
    """``data`` may be bytes or a zero-copy memoryview of the Arrow buffer;
    the returned payload may be a piece list (see plain.encode_plain_var).
    ``plain=True`` as in select_encode_fixed."""
    n = len(offsets) - 1
    if plain:
        payload, meta = encode_plain_var(data, offsets)
        return PLAIN, False, payload, meta, {"est": {}, "n": n}
    # trial encodes are multi-pass over the sample; with multi-KiB rows
    # (html) a row-count-only sample is MBs and the passes become DRAM-bound
    # — measured 14× per-chunk inflation at 32 concurrent workers.  Cap the
    # sample by bytes so trials stay cache-resident at any row width.
    avg_w = (int(offsets[-1]) - int(offsets[0])) / max(n, 1)
    k = SAMPLE_ROWS_VAR
    if avg_w > 0:
        k = min(k, max(MIN_SAMPLE_ROWS_VAR, int(SAMPLE_BYTES_VAR / avg_w)))
    idx = _sample_idx(n, seed, k)
    s_data, s_offs = _subset_var(data, offsets, idx)
    scale = n / max(len(idx), 1)
    ests = {}
    for c in VAR_CODECS:
        try:
            p, _ = _ENC_VAR[c](s_data, s_offs)
            ests[c] = int(_est_stored(p) * scale)
        except Exception:
            continue
    winner = min(ests, key=lambda c: (ests[c], c))
    try:
        payload, meta = _ENC_VAR[winner](data, offsets)
    except FsstInapplicable:
        winner = PLAIN
        payload, meta = encode_plain_var(data, offsets)
    if winner != PLAIN:
        # floor without re-encoding: PLAIN var = FOR-bitpacked lengths +
        # raw data bytes; both sizes are arithmetic on the offsets array
        lens = np.diff(offsets.astype(np.int64))
        if n:
            lw = base.bit_width(int(lens.max()) - int(lens.min()))
            plain_size = ((n * lw + 7) >> 3) + int(offsets[-1]) - int(offsets[0])
        else:
            plain_size = 0
        if plain_size <= _plen(payload):
            payload, meta = encode_plain_var(data, offsets)
            winner = PLAIN
    payload, zlibbed = _maybe_zlib(payload)
    return winner, zlibbed, payload, meta, {"est": ests, "n": n}


def _as_bytes(payload) -> bytes:
    if isinstance(payload, list):
        return b"".join(bytes(p) for p in payload)
    if isinstance(payload, memoryview):
        return bytes(payload)
    return payload


def _undo_byte_stage(zlibbed, codec: int, payload):
    """Payload as the codec decoder takes it.  ``zlibbed`` is the stored
    comp flag: 0/False = none, 2 = size-prefixed zstd; any other value
    (1 was the zlib stage of early chunks) raises, because decoding its
    compressed bytes as codec bytes would be a silent wrong answer."""
    if zlibbed == COMP_ZSTD:
        return _zstd_decompress(payload)
    if zlibbed != 0:
        raise ValueError(f"unsupported byte-stage flag {zlibbed!r} "
                         f"(expected 0 or {COMP_ZSTD})")
    if codec != PLAIN or isinstance(payload, list):
        # PLAIN reads a contiguous buffer in place (np.frombuffer on bytes
        # or memoryview, zero-copy); the other codecs' decoders assume
        # bytes, and piece-list payloads always need joining
        return _as_bytes(payload)
    return payload


def decode_fixed(codec: int, zlibbed, payload, meta: dict,
                 n: int) -> np.ndarray:
    e = meta.get("__d")
    out = _DEC_FIXED[codec](_undo_byte_stage(zlibbed, codec, payload),
                            meta if e is None else meta["in"], n)
    if e is not None:   # decimal stage (see select_encode_fixed)
        return out.astype(np.float64) / _POW10[e]
    fstr = meta.get("__f")
    if fstr:  # restore the float bit pattern (see select_encode_fixed)
        dt = np.dtype(fstr)
        if dt.itemsize == 8:
            out = np.ascontiguousarray(out).view(np.float64)
        else:
            out = out.astype(f"u{dt.itemsize}").view(dt)
    return out


def decode_var(codec: int, zlibbed, payload, meta: dict,
               n: int) -> tuple[bytes, np.ndarray]:
    return _DEC_VAR[codec](_undo_byte_stage(zlibbed, codec, payload), meta, n)


def _maybe_zlib(payload) -> tuple[object, bool]:
    total = _plen(payload)
    if total < 64:
        return payload, False
    probe_src = payload[-1] if isinstance(payload, list) else payload
    # probe before the full pass: skip it when the payload is
    # incompressible (random binary) — the common big-column case.  The
    # probe takes three 21 KiB slices (start / middle / end), not one
    # prefix: plane-ordered payloads (BSS) put their incompressible bytes
    # first and their runs last, and a prefix-only probe mistakes them
    # for random
    if total > 256 * 1024 and len(probe_src) >= 192 * 1024:
        k, third = 64 * 1024 // 3, len(probe_src) // 3
        probe = (bytes(probe_src[:k])
                 + bytes(probe_src[third:third + k])
                 + bytes(probe_src[2 * third:2 * third + k]))
        if len(_zstd().compress(probe)) > ZLIB_MIN_GAIN * len(probe):
            return payload, False
    joined = b"".join(bytes(p) for p in payload) \
        if isinstance(payload, list) else payload
    z = _zstd_compress(joined)
    if len(z) < ZLIB_MIN_GAIN * total:
        return z, COMP_ZSTD
    return payload, False


def _subset_var(data, offsets: np.ndarray,
                idx: np.ndarray) -> tuple[bytes, np.ndarray]:
    if len(idx) == len(offsets) - 1:
        return data, offsets
    offs = offsets.astype(np.int64)
    starts, ends = offs[idx], offs[idx + 1]
    lens = ends - starts
    mv = data if isinstance(data, memoryview) else memoryview(data)
    out = b"".join(bytes(mv[s:e]) for s, e in zip(starts.tolist(), ends.tolist()))
    return out, base.offsets_from_lengths(lens)
