"""Codec round-trip + size-sanity unit tests (SURVEY.md §5.2.1, FIXTURES F3).

Every codec must satisfy decode(encode(x)) == x on: empty, length-1,
all-equal, all-distinct, alternating, max-run, adversarial bytes
(non-UTF8, 0x00/0xFF), extreme int64 ranges, and seeded-random arrays.
Pure Python — no SparkSession.
"""

import numpy as np
import pytest

from dumpster.codecs import base
from dumpster.codecs.dictionary import (decode_dict_fixed, decode_dict_var,
                                        encode_dict_fixed, encode_dict_var)
from dumpster.codecs.forpack import (decode_delta_for, decode_for,
                                     encode_delta_for, encode_for)
from dumpster.codecs.fsst import (FsstInapplicable, decode_fsst_var,
                                  encode_fsst_var)
from dumpster.codecs.plain import (decode_plain_fixed, decode_plain_var,
                                   encode_plain_fixed, encode_plain_var)
from dumpster.codecs.rle import (decode_rle_fixed, decode_rle_var,
                                 encode_rle_fixed, encode_rle_var)
from dumpster.codecs.selector import (decode_fixed, decode_var,
                                      select_encode_fixed, select_encode_var,
                                      stable_seed)

RNG = np.random.default_rng(42)

INT_CASES = {
    "empty": np.empty(0, dtype=np.int64),
    "one": np.array([7], dtype=np.int64),
    "all_equal": np.full(1000, -3, dtype=np.int64),
    "all_distinct": np.arange(1000, dtype=np.int64) * 37 - 500,
    "alternating": np.tile([1, 2], 500).astype(np.int64),
    "max_run": np.repeat(np.int64(9), 70000),
    "extremes": np.array([np.iinfo(np.int64).min, -1, 0, 1,
                          np.iinfo(np.int64).max], dtype=np.int64),
    "random": RNG.integers(-2**62, 2**62, 5000).astype(np.int64),
    "timestamps": (1767225600_000_000
                   + np.cumsum(RNG.integers(0, 900_000, 5000))).astype(np.int64),
    "width33": np.array([0, 2**33 - 1, 5, 2**32], dtype=np.int64),
}

FLOAT_CASES = {
    "empty": np.empty(0, dtype=np.float64),
    "basic": np.array([1.5, -0.0, 0.0, np.inf, -np.inf, 1e300], dtype=np.float64),
    "nan": np.array([np.nan, 1.0, np.nan], dtype=np.float64),
    "random": RNG.normal(size=3000),
}


def _bytes_cases():
    words = [b"spark", b"encode", b"chunk", b"a", b"", b"zz"]
    return {
        "empty": [],
        "one": [b"hello"],
        "all_equal": [b"pt"] * 800,
        "empties": [b"", b"", b"x", b""],
        "runs": [w for w in words for _ in range(200)],
        "distinct": [f"https://h{i}.example.com/p/{i*i}".encode() for i in range(900)],
        "non_utf8": [bytes([0, 255, 128, 7]) * 3, b"\xff\xfe", b"\x00" * 50],
        "random_bin": [RNG.integers(0, 256, RNG.integers(1, 80)).astype(np.uint8).tobytes()
                       for _ in range(300)],
        "text": [(" ".join(RNG.choice(["the", "quick", "brown", "fox", "data",
                                       "spark", "columnar"], 12))).encode()
                 for _ in range(500)],
    }


def _to_var(objs):
    return base.objects_to_varbytes(list(objs))


def _join(payload):
    """Codec payloads may be piece lists (zero-copy path); the chunk
    container concatenates them on disk — mirror that for direct tests."""
    if isinstance(payload, list):
        return b"".join(bytes(p) for p in payload)
    return payload


def _from_var(data, offsets):
    return list(base.varbytes_to_objects(data, offsets))


# --- bitpack primitives ----------------------------------------------------

@pytest.mark.parametrize("width", [0, 1, 3, 7, 8, 13, 31, 33, 63, 64])
def test_bitpack_roundtrip(width):
    n = 777
    if width == 0:
        vals = np.zeros(n, dtype=np.uint64)
    elif width == 64:
        vals = RNG.integers(0, 2**63, n).astype(np.uint64) * 2 + 1
    else:
        vals = RNG.integers(0, 2**width, n).astype(np.uint64)
    packed = base.bitpack(vals, width)
    assert len(packed) == (n * width + 7) // 8
    out = base.bitunpack(packed, n, width)
    np.testing.assert_array_equal(out, vals)


# --- fixed-width codecs ------------------------------------------------------

FIXED_CODECS = [
    (encode_plain_fixed, decode_plain_fixed),
    (encode_dict_fixed, decode_dict_fixed),
    (encode_rle_fixed, decode_rle_fixed),
]
INT_ONLY_CODECS = [
    (encode_for, decode_for),
    (encode_delta_for, decode_delta_for),
]


@pytest.mark.parametrize("name", list(INT_CASES))
@pytest.mark.parametrize("enc,dec", FIXED_CODECS + INT_ONLY_CODECS)
def test_fixed_int_roundtrip(name, enc, dec):
    vals = INT_CASES[name]
    payload, meta = enc(vals)
    out = dec(payload, meta, len(vals))
    np.testing.assert_array_equal(out.view(np.int64), vals)


@pytest.mark.parametrize("name", list(FLOAT_CASES))
@pytest.mark.parametrize("enc,dec", FIXED_CODECS)
def test_fixed_float_roundtrip(name, enc, dec):
    vals = FLOAT_CASES[name]
    payload, meta = enc(vals)
    out = dec(payload, meta, len(vals))
    np.testing.assert_array_equal(out, vals)  # NaN == NaN via array_equal


# --- var-width codecs --------------------------------------------------------

VAR_CODECS_RT = [
    (encode_plain_var, decode_plain_var),
    (encode_dict_var, decode_dict_var),
    (encode_rle_var, decode_rle_var),
    (encode_fsst_var, decode_fsst_var),
]


@pytest.mark.parametrize("name", list(_bytes_cases()))
@pytest.mark.parametrize("enc,dec", VAR_CODECS_RT)
def test_var_roundtrip(name, enc, dec):
    objs = _bytes_cases()[name]
    data, offsets = _to_var(objs)
    try:
        payload, meta = enc(data, offsets)
    except FsstInapplicable:
        pytest.skip("fsst inapplicable on this input (expected)")
    out_data, out_offs = dec(_join(payload), meta, len(objs))
    assert _from_var(out_data, out_offs) == objs


def test_fsst_inapplicable_on_full_byte_space():
    objs = [bytes(range(256))] * 4
    data, offsets = _to_var(objs)
    with pytest.raises(FsstInapplicable):
        encode_fsst_var(data, offsets)


def test_fsst_compresses_redundant_text():
    objs = [b"the quick brown fox jumps over the lazy dog "] * 500
    data, offsets = _to_var(objs)
    payload, meta = encode_fsst_var(data, offsets)
    assert len(payload) < len(data) * 0.5
    out_data, out_offs = decode_fsst_var(payload, meta, len(objs))
    assert _from_var(out_data, out_offs) == objs


# --- size sanity (SURVEY §5.2.1 monotonicity) -------------------------------

def test_rle_beats_dict_on_constant_column():
    vals = np.full(50_000, 123456, dtype=np.int64)
    rle, _ = encode_rle_fixed(vals)
    dct, _ = encode_dict_fixed(vals)
    plain, _ = encode_plain_fixed(vals)
    assert len(rle) <= len(dct) < len(plain)


def test_for_width_is_tight():
    vals = np.array([100, 107, 101], dtype=np.int64)  # range 7 → 3 bits
    _, meta = encode_for(vals)
    assert meta["width"] == 3
    vals = np.full(10, 5, dtype=np.int64)
    _, meta = encode_for(vals)
    assert meta["width"] == 0


def test_delta_for_beats_for_on_monotone():
    vals = INT_CASES["timestamps"]
    d, _ = encode_delta_for(vals)
    f, _ = encode_for(vals)
    assert len(d) < len(f)


# --- selector ---------------------------------------------------------------

def test_selector_fixed_picks_and_roundtrips():
    for name, vals in INT_CASES.items():
        codec, z, payload, meta, info = select_encode_fixed(vals, seed=1)
        out = decode_fixed(codec, z, payload, meta, len(vals))
        np.testing.assert_array_equal(out.view(np.int64), vals, err_msg=name)


def test_selector_var_picks_and_roundtrips():
    for name, objs in _bytes_cases().items():
        data, offsets = _to_var(objs)
        codec, z, payload, meta, info = select_encode_var(data, offsets, seed=2)
        out_data, out_offs = decode_var(codec, z, payload, meta, len(objs))
        assert _from_var(out_data, out_offs) == objs, name


def test_selector_never_worse_than_plain_plus_header():
    data, offsets = _to_var(_bytes_cases()["random_bin"])
    plain_p, _ = encode_plain_var(data, offsets)
    codec, z, payload, _, _ = select_encode_var(data, offsets, seed=3)
    assert len(_join(payload)) <= len(_join(plain_p))


def test_selector_deterministic_same_seed():
    vals = RNG.integers(0, 50, 20000).astype(np.int64)
    a = select_encode_fixed(vals, seed=stable_seed("b", 1, "col"))
    b = select_encode_fixed(vals, seed=stable_seed("b", 1, "col"))
    assert a[0] == b[0] and a[2] == b[2]


def test_bss_roundtrip_all_dtypes():
    from dumpster.codecs.bss import decode_bss_fixed, encode_bss_fixed
    rng = np.random.default_rng(5)
    for arr in [rng.normal(size=500).astype(np.float64),
                rng.normal(size=500).astype(np.float32),
                rng.integers(-10**12, 10**12, 300),
                np.array([], dtype=np.float32),
                np.array([1.5], dtype=np.float64)]:
        p, m = encode_bss_fixed(arr)
        out = decode_bss_fixed(p, m, len(arr))
        assert out.dtype == arr.dtype
        assert np.array_equal(out.view(np.uint8), arr.view(np.uint8))


def test_bss_wins_on_embedding_like_floats():
    """Small-range float32 bit patterns: byte-plane transpose + zlib must
    beat FOR-on-bits + zlib, and the selector must actually store it."""
    import zlib as _z

    from dumpster.codecs import select_encode_fixed
    from dumpster.codecs.base import BSS, CODEC_NAMES

    rng = np.random.default_rng(11)
    f32 = (rng.random(60_000, dtype=np.float32) - 0.5)  # [-0.5, 0.5)
    bits = f32.view("u4").astype(np.int64)
    codec, zl, payload, meta, info = select_encode_fixed(bits, seed=3)
    stored = len(payload) if isinstance(payload, bytes) else sum(map(len, payload))
    assert CODEC_NAMES[codec] == "bss" and zl, (CODEC_NAMES[codec], zl, info)
    assert stored < 4 * len(f32), "bss+zlib should beat 4 B/value raw"


def test_legacy_zlib_and_dmc1_chunks_are_refused(monkeypatch):
    """Only the DMC2 container and byte-stage flags 0 (none) and 2 (zstd)
    are readable.  A payload with the zlib flag 1 of early chunks, or a
    DMC1 head, raises ValueError: decoding either as current bytes would
    be a silent wrong answer."""
    import zlib as _z

    import pyarrow as pa

    import dumpster.codecs.selector as sel
    from dumpster.chunk import decode_chunk, encode_chunk

    def legacy_maybe_zlib(payload):
        total = sel._plen(payload)
        if total < 64:
            return payload, False
        z = _z.compress(sel._as_bytes(payload), 1)
        if len(z) < sel.ZLIB_MIN_GAIN * total:
            return z, 1
        return payload, False

    batch = pa.RecordBatch.from_arrays(
        [pa.array([f"the quick brown fox {i % 7}" for i in range(4000)]),
         pa.array(list(range(4000)), type=pa.int64())],
        names=["text", "n"])
    monkeypatch.setattr(sel, "_maybe_zlib", legacy_maybe_zlib)
    blob, stats = encode_chunk(batch)
    flagged = [s["column"] for s in stats if s["zlib"] == 1]
    assert flagged, stats
    monkeypatch.undo()  # decode runs on CURRENT code
    with pytest.raises(ValueError, match="byte-stage flag 1"):
        decode_chunk(blob)
    with pytest.raises(ValueError, match="byte-stage flag 1"):
        decode_chunk(blob, flagged[:1])

    good, _ = encode_chunk(batch)
    assert decode_chunk(good).equals(batch)
    with pytest.raises(ValueError, match="magic"):
        decode_chunk(b"DMC1" + good[4:])
