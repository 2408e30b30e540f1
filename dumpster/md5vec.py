"""Vectorized single-block MD5 over NumPy lanes (RFC 1321).

Why this exists: ``textops.simhash64`` defines token hashes as the low 8
bytes of ``md5(token)`` — pinned by round-1 outputs — but hashing each
token with ``hashlib`` is a per-row Python loop (the input_hint forbids
per-row Python).  Messages ≤ 55 bytes fit one 64-byte MD5 block, and web
tokens almost always do, so the whole batch is hashed as parallel uint32
lanes: 64 MD5 rounds, each a handful of vectorized ops over every token
at once.  Longer messages (rare) fall back to hashlib.

Output is bit-identical to ``hashlib.md5`` — verified against hashlib in
tests on random byte strings of every length 0..55.
"""

from __future__ import annotations

import hashlib
import math

import numpy as np

# --- RFC 1321 constants ---------------------------------------------------
_S = np.array([7, 12, 17, 22] * 4 + [5, 9, 14, 20] * 4
              + [4, 11, 16, 23] * 4 + [6, 10, 15, 21] * 4, dtype=np.uint32)
_K = np.array([int(abs(math.sin(i + 1)) * (1 << 32)) & 0xFFFFFFFF
               for i in range(64)], dtype=np.uint32)
_G = np.array([i for i in range(16)]
              + [(5 * i + 1) % 16 for i in range(16, 32)]
              + [(3 * i + 5) % 16 for i in range(32, 48)]
              + [(7 * i) % 16 for i in range(48, 64)], dtype=np.int64)

_INIT = (np.uint32(0x67452301), np.uint32(0xEFCDAB89),
         np.uint32(0x98BADCFE), np.uint32(0x10325476))

MAX_SINGLE_BLOCK = 55  # bytes: payload + 0x80 pad + 8-byte length fit in 64


_CHUNK = 8192  # lanes per round-loop pass: state + temporaries stay in L2


def _md5_rounds_chunk(W: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """64 MD5 rounds over (n, 16) uint32 pre-padded little-endian blocks.

    Returns (a, b): the first two output state words — digest bytes 0-7
    are their little-endian concatenation, i.e. ``a | (b << 32)``.
    In-place ufuncs on two scratch arrays keep the per-round allocation
    churn (and memory traffic — the shared host punishes bandwidth) down.
    """
    n = len(W)
    a = np.full(n, _INIT[0], dtype=np.uint32)
    b = np.full(n, _INIT[1], dtype=np.uint32)
    c = np.full(n, _INIT[2], dtype=np.uint32)
    d = np.full(n, _INIT[3], dtype=np.uint32)
    f = np.empty(n, dtype=np.uint32)
    t = np.empty(n, dtype=np.uint32)
    Wc = np.ascontiguousarray(W.T)  # (16, n): row gather per round is contiguous
    for i in range(64):
        if i < 16:
            #  (b & c) | (~b & d)
            np.bitwise_and(b, c, out=f)
            np.bitwise_not(b, out=t)
            np.bitwise_and(t, d, out=t)
            np.bitwise_or(f, t, out=f)
        elif i < 32:
            np.bitwise_and(d, b, out=f)
            np.bitwise_not(d, out=t)
            np.bitwise_and(t, c, out=t)
            np.bitwise_or(f, t, out=f)
        elif i < 48:
            np.bitwise_xor(b, c, out=f)
            np.bitwise_xor(f, d, out=f)
        else:
            np.bitwise_not(d, out=f)
            np.bitwise_or(b, f, out=f)
            np.bitwise_xor(c, f, out=f)
        f += a
        f += _K[i]
        f += Wc[_G[i]]
        s = np.uint32(int(_S[i]))
        np.left_shift(f, s, out=t)
        np.right_shift(f, np.uint32(32) - s, out=f)
        np.bitwise_or(t, f, out=f)
        f += b
        # state rotation consumes f's buffer as the new b; the old a buffer
        # falls out of the state and is recycled as next round's scratch
        # (fully overwritten before any read)
        a, b, c, d, f = d, f, b, c, a
    return a + _INIT[0], b + _INIT[1]


def md5_lsb8(data: np.ndarray, offsets: np.ndarray) -> np.ndarray:
    """Low 8 bytes (little-endian uint64) of md5 for each var-width message.

    ``data``: uint8 buffer; ``offsets``: int64[n+1] message boundaries.
    Single-block vectorized path for messages ≤ 55 bytes; hashlib for the
    rest (rare in token workloads).
    """
    offsets = offsets.astype(np.int64)
    lens = np.diff(offsets)
    n = len(lens)
    out = np.empty(n, dtype=np.uint64)
    sb = lens <= MAX_SINGLE_BLOCK
    sb_idx = np.flatnonzero(sb)
    if len(sb_idx):
        l = lens[sb_idx]
        starts = offsets[:-1][sb_idx]
        total = int(l.sum())
        # gather message bytes into an (n_sb, 64) padded block matrix
        within = np.arange(total, dtype=np.int64) - np.repeat(
            np.concatenate(([0], np.cumsum(l)[:-1])), l)
        src = np.repeat(starts, l) + within
        rows = np.repeat(np.arange(len(sb_idx), dtype=np.int64), l)
        M = np.zeros((len(sb_idx), 64), dtype=np.uint8)
        M[rows, within] = data[src]
        M[np.arange(len(sb_idx)), l] = 0x80
        W = M.view("<u4")
        W[:, 14] = (l * 8).astype(np.uint32)
        res = np.empty(len(sb_idx), dtype=np.uint64)
        for s in range(0, len(W), _CHUNK):
            a, b = _md5_rounds_chunk(W[s:s + _CHUNK])
            res[s:s + _CHUNK] = a.astype(np.uint64) \
                | (b.astype(np.uint64) << np.uint64(32))
        out[sb_idx] = res
    for i in np.flatnonzero(~sb):
        dig = hashlib.md5(
            data[offsets[i]:offsets[i + 1]].tobytes()).digest()
        out[i] = np.uint64(int.from_bytes(dig[:8], "little"))
    return out
