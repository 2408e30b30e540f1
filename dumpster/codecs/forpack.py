"""Frame-of-reference + bit-pack (and delta variant) for integer columns.

FOR: subtract the chunk minimum, bit-pack residuals at
``ceil(log2(range+1))`` bits.  DELTA_FOR: first difference (exact in
modular uint64 arithmetic, so it round-trips any int64 including negative
jumps), then FOR-pack the deltas — wins on sorted / near-monotone columns
such as ``warc_ts`` (the reference's event timestamps,
AvroExtendedMessage.java:28-30) and offsets.

FOR also divides out the residuals' common factor: when every
``values − min`` is a multiple of some g > 1 (whole-second µs timestamps,
prices in whole dollars held as cents, ids on a stride), it bit-packs
``(values − min) / g`` instead, and stores ``{"sbase", "swidth",
"scale"}`` in place of ``{"base", "width"}`` so a reader that predates the
stage fails on a missing key rather than returning unscaled values.
Residual ranges of 2^63 or more never scale (g is taken over int64).

Timestamps reach this module as their int64 microsecond representation;
the chunk layer records the Arrow type for exact reconstruction.
"""

from __future__ import annotations

import numpy as np

from .base import (bit_width, bitpack, bitunpack, for_pack_u64,
                   for_unpack_u64)


def encode_for(vals: np.ndarray) -> tuple[bytes, dict]:
    v = np.ascontiguousarray(vals).view(np.uint64)
    if len(v) == 0:
        return b"", {"base": 0, "width": 0}
    base = int(v.min())
    resid = v - np.uint64(base)
    top = int(resid.max())
    g = int(np.gcd.reduce(resid.view(np.int64))) if 0 < top < 1 << 63 else 1
    if g > 1:
        width = bit_width(top // g)
        return bitpack(resid // np.uint64(g), width), \
            {"sbase": base, "swidth": width, "scale": g}
    width = bit_width(top)
    return bitpack(resid, width), {"base": base, "width": width}


def decode_for(payload: bytes, meta: dict, n: int) -> np.ndarray:
    if "scale" in meta:
        q = bitunpack(payload, n, meta["swidth"])
        return (q * np.uint64(meta["scale"])
                + np.uint64(meta["sbase"])).view(np.int64)
    return for_unpack_u64(payload, n, meta["base"], meta["width"]).view(np.int64)


def encode_delta_for(vals: np.ndarray) -> tuple[bytes, dict]:
    v = np.ascontiguousarray(vals, dtype=np.int64).view(np.uint64)
    if len(v) == 0:
        return b"", {"first": 0, "base": 0, "width": 0}
    first = int(v[0])
    deltas = v[1:] - v[:-1]  # modular — exact for any int64 sequence
    payload, base, width = for_pack_u64(deltas)
    return payload, {"first": first, "base": base, "width": width}


def decode_delta_for(payload: bytes, meta: dict, n: int) -> np.ndarray:
    if n == 0:
        return np.empty(0, dtype=np.int64)
    deltas = for_unpack_u64(payload, n - 1, meta["base"], meta["width"])
    out = np.empty(n, dtype=np.uint64)
    out[0] = np.uint64(meta["first"])
    np.cumsum(deltas, out=out[1:])          # modular cumsum
    out[1:] += np.uint64(meta["first"])
    return out.view(np.int64)
