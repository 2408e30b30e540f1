"""Frame-of-reference + bit-pack (and delta variant) for integer columns.

FOR: subtract the frame base, bit-pack residuals at
``ceil(log2(range+1))`` bits.  DELTA_FOR: first difference (exact in
modular uint64 arithmetic, so it round-trips any int64 including negative
jumps), then FOR-pack the deltas — wins on sorted / near-monotone columns
such as ``warc_ts`` (the reference's event timestamps,
AvroExtendedMessage.java:28-30) and offsets, and on clustered keys whose
deltas are small but mixed-sign.

The frame is the narrower of two exact bases (``base.for_frame``): the
uint64 minimum, or the int64 minimum stored as its uint64 image.  Values
or deltas that mix signs pack at the width of their signed range rather
than at 64 bits, under the same ``base`` key and the same modular decoder.

Both codecs also divide out the residuals' common factor: when every
``r = values − base`` (deltas for DELTA_FOR) is a multiple of some g > 1
(whole-second µs timestamps, prices in whole dollars held as cents, ids on
a stride), they bit-pack ``r / g`` instead, and store ``{"sbase",
"swidth", "scale"}`` in place of ``{"base", "width"}`` so a reader that
predates the stage fails on a missing key rather than returning unscaled
values.  Residual ranges of 2^63 or more never scale (g is taken over
int64).

Timestamps reach this module as their int64 microsecond representation;
the chunk layer records the Arrow type for exact reconstruction.
"""

from __future__ import annotations

import numpy as np

from .base import bit_width, bitpack, bitunpack, for_frame, for_unpack_u64


def encode_for(vals: np.ndarray) -> tuple[bytes, dict]:
    v = np.ascontiguousarray(vals).view(np.uint64)
    if len(v) == 0:
        return b"", {"base": 0, "width": 0}
    base, top = for_frame(v)
    resid = v - np.uint64(base)
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
    # modular deltas — exact for any int64 sequence — packed as FOR packs
    # values: same frame, same common-factor stage, same meta keys
    payload, meta = encode_for(v[1:] - v[:-1])
    return payload, {"first": int(v[0]), **meta}


def decode_delta_for(payload: bytes, meta: dict, n: int) -> np.ndarray:
    if n == 0:
        return np.empty(0, dtype=np.int64)
    deltas = decode_for(payload, meta, n - 1).view(np.uint64)
    out = np.empty(n, dtype=np.uint64)
    out[0] = np.uint64(meta["first"])
    np.cumsum(deltas, out=out[1:])          # modular cumsum
    out[1:] += np.uint64(meta["first"])
    return out.view(np.int64)
