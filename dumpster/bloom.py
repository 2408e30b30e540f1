"""Per-chunk bloom filters for var-width (string/binary) columns.

The reference's only point-lookup acceleration is Hive partition pruning
(HiveClient.java:88-94) — a `WHERE url = ...` over anything but the
partition key scans every file.  At 10^12 documents that is the single
most common query shape against a web-page table, so chunks carry the
Parquet-bloom-filter analog: a blocked bloom per short-string column,
stored as its own crc'd section in the DMC2 container and consulted with
one small ranged read BEFORE the chunk's columns are decoded.  Planning
still prunes on manifest zone maps (driver-side, zero I/O); the bloom is
the task-side second level, exactly where Spark evaluates Parquet blooms.

Never a false negative: a positive means "decode and filter row-level",
a negative proves the value is absent, so skipping the chunk is exact.

Hashing is the repo's vectorized 61-bit polynomial rolling hash
(textops.doc_fingerprint's core) applied to the (data, offsets) buffers
the encoder already holds — no per-row Python, no extra materialization.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

# The 61-bit polynomial hash kernel lives HERE (Spark-free) and
# textops.doc_fingerprint imports it — textops pulls in pyspark.sql at
# module level, and bloom runs inside the Spark-free chunk encoder.
MOD = (1 << 61) - 1
POLY = 1_000_003

_U32 = np.uint64(0xFFFFFFFF)
_P61 = np.uint64(MOD)


def _modmul61(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Vectorized (a*b) mod 2^61-1 for a, b < 2^61, via 32-bit limbs.

    2^61 ≡ 1 and 2^64 ≡ 8 (mod p) collapse the 122-bit product into
    uint64-safe partials — no Python bigints, no per-element loop.
    """
    a = a.astype(np.uint64, copy=False)
    b = np.asarray(b, dtype=np.uint64)
    a1, a0 = a >> np.uint64(32), a & _U32
    b1, b0 = b >> np.uint64(32), b & _U32
    hh = a1 * b1                        # < 2^58; *2^64 ≡ *8 → < 2^61
    mid = a1 * b0 + a0 * b1             # < 2^62; *2^32 split at bit 29
    ll = a0 * b0                        # < 2^64 → reduce once
    s = (hh << np.uint64(3)) \
        + (mid >> np.uint64(29)) \
        + ((mid & np.uint64((1 << 29) - 1)) << np.uint64(32)) \
        + ((ll >> np.uint64(61)) + (ll & _P61))
    s = (s >> np.uint64(61)) + (s & _P61)
    s = (s >> np.uint64(61)) + (s & _P61)
    return np.where(s >= _P61, s - _P61, s)


def _pow_table(n: int) -> np.ndarray:
    """[POLY^0 .. POLY^(n-1)] mod 2^61-1, built by vectorized doubling."""
    pows = np.array([1], dtype=np.uint64)
    while len(pows) < n:
        step = _modmul61(pows[-1:], np.uint64(POLY))[0]
        pows = np.concatenate([pows, _modmul61(pows, step)])
    return pows[:n]

# build a bloom only for equality-queryable columns: enough rows for the
# bitmap to pay for itself, short values (urls, language codes, hosts) —
# nobody point-looks-up a 100 KB html body, and hashing it would cost
# more than the skip saves
MIN_ROWS = 1024
MAX_AVG_LEN = 128
_K = 6                      # probes per value
_BITS_PER_VALUE = 8         # m = next_pow2(8n) → fp ≈ 2% at k=6
_MAX_M_BITS = 1 << 23       # 1 MiB bitmap cap per column


def poly_hash_rows(data, offsets: np.ndarray) -> np.ndarray:
    """uint64 poly-hash (mod 2^61-1) of each [offsets[i], offsets[i+1])
    slice of ``data``, WORD-wise: each row's bytes are viewed as
    zero-padded little-endian uint64 words, each word folded mod p, then
    Horner-combined with POLY weights — one modmul per 8 BYTES instead
    of per byte (the per-byte variant was ~45% of a whole chunk encode).
    Bloom hashing needs determinism, not a specific polynomial, so the
    word radix is free to differ from textops.doc_fingerprint's byte
    radix (those values are pinned)."""
    offs = np.asarray(offsets, dtype=np.int64)
    n = len(offs) - 1
    out = np.zeros(n, dtype=np.uint64)
    if n <= 0:
        return out
    lens = np.diff(offs)
    ne = np.flatnonzero(lens > 0)
    if not len(ne):
        return out
    buf = np.frombuffer(data, dtype=np.uint8, count=int(offs[-1]))
    starts, l = offs[:-1][ne], lens[ne]
    k = (l + 7) >> 3                      # words per row
    tw = int(k.sum())
    # gather every source byte into its zero-padded word slot (one copy)
    dst_row0 = np.concatenate(([0], np.cumsum(k)[:-1])) << 3
    within = np.arange(int(l.sum()), dtype=np.int64) - np.repeat(
        np.concatenate(([0], np.cumsum(l)[:-1])), l)
    padded = np.zeros(tw * 8, dtype=np.uint8)
    padded[np.repeat(dst_row0, l) + within] = \
        buf[np.repeat(starts, l) + within]
    p61 = np.uint64(MOD)
    w = padded.view(np.uint64)            # little-endian platform
    w = (w >> np.uint64(61)) + (w & p61)  # fold < 2^64 into < 2^61+7
    w = np.where(w >= p61, w - p61, w)
    # positional weights: word j of a k-word row gets POLY^(k-1-j)
    word_within = np.arange(tw, dtype=np.int64) - np.repeat(
        np.concatenate(([0], np.cumsum(k)[:-1])), k)
    exps = np.repeat(k, k) - 1 - word_within
    terms = _modmul61(w, _pow_table(int(k.max()))[exps])
    seg = np.concatenate(([0], np.cumsum(k)[:-1]))
    u32 = np.uint64(0xFFFFFFFF)
    lo = np.add.reduceat(terms & u32, seg)
    hi = np.add.reduceat(terms >> np.uint64(32), seg)
    lo = (lo >> np.uint64(61)) + (lo & p61)
    hi = (hi >> np.uint64(61)) + (hi & p61)
    h = _modmul61(hi, np.uint64(1 << 32)) + lo
    h = (h >> np.uint64(61)) + (h & p61)
    h = np.where(h >= p61, h - p61, h)
    out[ne] = h
    return out


def poly_hash_one(value: bytes) -> int:
    """Scalar twin of poly_hash_rows for the query-side membership probe
    (predicate literals are tens of bytes — a Python loop is fine)."""
    h = 0
    for j in range(0, len(value), 8):
        w = int.from_bytes(value[j:j + 8].ljust(8, b"\x00"), "little")
        h = (h * POLY + w % MOD) % MOD
    return h


def _positions(h: np.ndarray | int, m_bits: int, k: int = _K):
    """k double-hashed bit positions from one 61-bit hash.  h2 is forced
    odd so it is coprime with the power-of-two m_bits (full cycle)."""
    h = np.asarray(h, dtype=np.uint64).reshape(-1, 1)
    h1 = h & np.uint64(0xFFFFFFFF)
    h2 = (h >> np.uint64(32)) | np.uint64(1)
    i = np.arange(k, dtype=np.uint64)
    return ((h1 + i * h2) & np.uint64(m_bits - 1)).astype(np.int64)


def choose_m_bits(n_values: int) -> int:
    m = 1 << max(12, int(np.ceil(np.log2(max(1, n_values) * _BITS_PER_VALUE))))
    return min(m, _MAX_M_BITS)


def bloom_build(data, offsets: np.ndarray) -> tuple[bytes, dict]:
    """→ (bitmap bytes, desc).  desc = {"m": m_bits, "k": k, "v": 2}.
    The bitmap is sized by DISTINCT hashes, not row count — a 64 Ki-row
    chunk of a 5-value language column gets a 4 Kib bitmap, not 512 Kib
    (same fp rate: only distinct values set bits).  Only the distinct
    values are hashed (``pc.unique``): equal rows hash equally, so the
    hash set — and the bitmap — is the one every row would give, at a
    fraction of the cost on low-cardinality columns."""
    offs = np.ascontiguousarray(offsets, dtype=np.int64)
    uniq = pc.unique(pa.Array.from_buffers(
        pa.large_binary(), len(offs) - 1,
        [None, pa.py_buffer(offs), pa.py_buffer(data)]))
    ubufs = uniq.buffers()
    uoffs = np.frombuffer(ubufs[1], dtype=np.int64)[
        uniq.offset:uniq.offset + len(uniq) + 1]
    udata = ubufs[2] if ubufs[2] is not None else b""
    hashes = np.unique(poly_hash_rows(udata, uoffs))
    m_bits = choose_m_bits(len(hashes))
    pos = _positions(hashes, m_bits)
    bits = np.zeros(m_bits, dtype=bool)
    bits[pos.reshape(-1)] = True
    return np.packbits(bits, bitorder="little").tobytes(), \
        {"m": m_bits, "k": _K, "v": 2}


def bloom_might_contain(bitmap, desc: dict, value: bytes) -> bool:
    if desc.get("v") != 2:
        # v1 chunks (byte-radix hash, one pre-release commit) and unknown
        # future versions: cannot prove absence → never prune
        return True
    pos = _positions(poly_hash_one(value), desc["m"], desc["k"])[0]
    bits = np.frombuffer(bitmap, dtype=np.uint8)
    return bool(np.all(bits[pos >> 3] & (np.uint8(1) << (pos & 7))))


def want_bloom(n_valid: int, data_bytes: int) -> bool:
    return n_valid >= MIN_ROWS and data_bytes <= MAX_AVG_LEN * n_valid


def bloom_rejects_file(path: str, preds) -> bool:
    """Task-side bloom gate shared by the decode reader and the Python
    DataSource: ``preds`` is an iterable of ``(column, candidate byte
    values)`` — True iff some predicate's ENTIRE candidate set is
    provably absent from the chunk's bloom sections (never a false
    negative, so skipping the file is exact).  Unreadable/absent bloom
    sections mean "cannot prune" — the file proceeds to decode, whose
    own error handling governs."""
    from .chunk import read_blooms
    try:
        blooms = read_blooms(path, [c for c, _ in preds])
    except Exception:
        return False
    for col, values in preds:
        got = blooms.get(col)
        if got is None:
            continue
        desc, bitmap = got
        if not any(bloom_might_contain(bitmap, desc, v) for v in values):
            return True
    return False
