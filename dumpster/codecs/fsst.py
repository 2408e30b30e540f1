"""FSST-style symbol-table string compression, from scratch.

Follows the published FSST design (Boncz, Neumann, Leis: "FSST: Fast Random
Access String Compression", VLDB 2020): a table of up to 8-byte symbols is
*evolved* over a few generations on a sample — parse the sample greedily
with the current table, count symbol and adjacent-pair gains
(``count * (len-1)`` bytes saved), keep the top gainers, repeat so symbols
grow 1→2→4→8 bytes — then the full buffer is encoded with the final table.

Two deliberate deviations from the paper, chosen for a vectorized
pure-Python engine (no SIMD kernels available):

* **Code space = the byte values absent from the chunk.**  Instead of the
  paper's 255 codes + escape byte, every byte value that occurs in the
  chunk keeps itself as its own code (identity), and multi-byte symbols are
  assigned the byte values that do NOT occur.  Encoding then needs no
  escape pass at all and becomes a chain of C-speed ``bytes.replace``
  calls (longest symbol first); decoding is a vectorized 256-row expansion
  gather.  When the chunk uses all 256 byte values (e.g. random binary)
  FSST is *inapplicable* and the selector falls back — which matches where
  FSST wins anyway (text, urls).
* **Strings are compressed as one concatenated buffer** with the original
  lengths stored FOR-bitpacked; symbols may match across string
  boundaries, which only helps ratio and cannot break the round-trip
  because decode splits by original lengths.
* **Table construction counts n-grams vectorized** (NumPy sliding windows
  over the sample) instead of the paper's generational parse-and-merge —
  see build_symbol_table for why the looser gain estimate is safe.

Both keep the invariant that matters: ``decode(encode(x)) == x`` byte-for-
byte (the north_rule's "byte-identical extracted text per url").
"""

from __future__ import annotations

from collections import Counter

import numpy as np

from .base import offsets_from_lengths, pack_lengths, unpack_lengths

# table build is vectorized n-gram counting (no generational re-parse needed)
DEFAULT_SAMPLE = 16 * 1024
# Replace-chain passes are O(buffer) each, so the cap is the encode-speed /
# ratio knob.  Measured on FIXTURES F1 text chunks: 96→32 symbols cuts
# encode time ~2.3× while the *stored* size (after the zlib stage) grows
# <0.3% — the zlib pass recovers almost everything the dropped tail
# symbols would have caught, because low-gain symbols compress well anyway.
MAX_SYMBOLS = 32


class FsstInapplicable(ValueError):
    """Raised when the chunk leaves no free code space (all 256 bytes used)."""


_WIDTH_DTYPE = {2: np.uint16, 4: np.uint32, 8: np.uint64}


def _top_ngrams(arr: np.ndarray, width: int, top: int) -> list[tuple[bytes, int]]:
    """Most frequent width-grams of a byte array, via integer-view unique
    (1-d int sort, ~100× faster than row-wise unique)."""
    if len(arr) < width:
        return []
    win = np.lib.stride_tricks.sliding_window_view(arr, width)
    keys = np.ascontiguousarray(win).view(_WIDTH_DTYPE[width]).ravel()
    uniq, counts = np.unique(keys, return_counts=True)
    if len(uniq) > top:
        keep = np.argpartition(counts, -top)[-top:]
        uniq, counts = uniq[keep], counts[keep]
    return [(uniq[i:i + 1].tobytes(), int(counts[i])) for i in range(len(uniq))]


def build_symbol_table(sample: bytes, budget: int) -> list[bytes]:
    """Candidate symbols from the sample, vectorized.

    The paper evolves the table by re-parsing the sample per generation;
    here candidate n-grams (widths 2, 4, 8) are counted directly with
    NumPy integer views — gain ≈ count·(len−1).  Overlap between nested
    grams overestimates gains, but encode prunes symbols against the
    sample before the full replace chain, so the estimator only has to
    rank, not be exact.
    """
    arr = np.frombuffer(sample, dtype=np.uint8)
    gains: Counter = Counter()
    for width in (2, 4, 8):
        for gram, cnt in _top_ngrams(arr, width, budget * 2):
            gain = cnt * (width - 1)
            if gain >= 2 * width:
                gains[gram] = max(gains[gram], gain)
    ranked = sorted(gains.items(), key=lambda kv: (-kv[1], kv[0]))[:budget]
    return sorted((s for s, _ in ranked), key=lambda s: (-len(s), s))


def _take_sample(data: bytes, sample_bytes: int) -> bytes:
    """Deterministic spread sample: 16 evenly spaced slices."""
    n = len(data)
    if n <= sample_bytes:
        return data
    k = 16
    step = n // k
    piece = sample_bytes // k
    return b"".join(data[i * step:i * step + piece] for i in range(k))


def encode_fsst_var(data, offsets: np.ndarray,
                    sample_bytes: int = DEFAULT_SAMPLE) -> tuple[bytes, dict]:
    arr = np.frombuffer(data, dtype=np.uint8)
    lengths = np.diff(offsets.astype(np.int64))
    lp, lmeta = pack_lengths(lengths)

    # presence-of-byte-values via boolean scatter — np.bincount here casts
    # the whole buffer to int64 internally (8× alloc + ~80 ns/byte; measured
    # 13 s on a 160 MB column, the round-1 encode wall's largest single sink)
    if len(arr):
        seen = np.zeros(256, dtype=bool)
        seen[arr] = True
        present = np.flatnonzero(seen)
    else:
        present = np.empty(0, np.int64)
    free_codes = sorted(set(range(256)) - set(int(b) for b in present))
    if not free_codes:
        raise FsstInapplicable("chunk uses all 256 byte values")

    budget = min(MAX_SYMBOLS, len(free_codes))
    # the replace chain needs a real bytes object; convert only after the
    # inapplicability check so all-256-byte columns (random binary) never
    # pay the copy
    if not isinstance(data, bytes):
        data = bytes(data)
    sample = _take_sample(data, sample_bytes)
    symbols = build_symbol_table(sample, budget)[:budget]

    # prune against the sample first: each bytes.replace pass over the full
    # buffer is O(current size), so only symbols that demonstrably shrink
    # the sample earn a full pass.  The bar is ~0.8% of the sample (1/128):
    # measured on the bench text column, symbols below it change the
    # *stored* (post-zlib) size by <0.01% while each costing a full-buffer
    # pass — the zlib stage recovers everything the tail symbols would
    # have caught.  Longest-first application both preserves phrase-level
    # wins and collapses the buffer early, making the remaining
    # (short-symbol) passes cheap.  (Any order decodes correctly — a
    # replaced region is always a valid code tiling.)
    min_gain = max(8, len(sample) // 128)
    kept, probe = [], sample
    for code, sym in zip(free_codes, symbols):
        new = probe.replace(sym, bytes([code]))
        gain = len(probe) - len(new)
        if gain >= min_gain:
            kept.append((gain, code, sym))
            probe = new
    kept.sort(key=lambda t: (-len(t[2]), -t[0], t[1]))

    enc = data
    assignment: list[tuple[int, bytes]] = []      # (code, symbol)
    for _, code, sym in kept:
        new = enc.replace(sym, bytes([code]))
        if len(new) < len(enc):
            assignment.append((code, sym))
            enc = new
    # symbol table section: u8 count, then per symbol u8 code, u8 len, bytes
    tab = bytearray([len(assignment)])
    for code, sym in assignment:
        tab += bytes([code, len(sym)]) + sym
    payload = lp + bytes(tab) + enc
    return payload, {**lmeta, "lpn": len(lp), "tn": len(tab),
                     "en": len(enc), "n_syms": len(assignment)}


def decode_fsst_var(payload: bytes, meta: dict, n: int) -> tuple[bytes, np.ndarray]:
    lpn, tn = meta["lpn"], meta["tn"]
    lengths = unpack_lengths(payload[:lpn], meta)
    tab = payload[lpn:lpn + tn]
    enc = payload[lpn + tn:]

    # Expansion is a chain of C-speed bytes.replace — the mirror of encode.
    # Correct in ANY order because of the free-code-space design: codes are
    # byte values ABSENT from the original chunk, while symbol bodies
    # consist only of PRESENT bytes, so no replacement can ever introduce
    # or consume another code byte.  (~1.3× faster than the previous
    # 256-row gather on long text, ~7× on short urls.)
    pos = 1
    out = enc
    for _ in range(tab[0]):
        code, slen = tab[pos], tab[pos + 1]
        out = out.replace(bytes([code]), tab[pos + 2:pos + 2 + slen])
        pos += 2 + slen
    return out, offsets_from_lengths(lengths)
