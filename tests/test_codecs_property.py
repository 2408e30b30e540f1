"""Property-based round-trip tests for the codec layer (hypothesis).

The pytest suites in test_codecs.py cover hand-picked adversarial cases;
these properties let hypothesis search the space: any int64 array, any
float array (NaN/±inf included), any list of byte strings (non-UTF8,
empty, long) must survive select→encode→decode bit-identically, under
every seed (codec choice must never affect correctness).

The generators also aim at the exact integer stages: ints of the form
``base + g·k`` (the common factor of FOR and delta-FOR), mixed-sign values
and deltas (the signed frame), uint64-style values straddling 2^63 (which
keep the unsigned frame), and float64 values that are exact decimals,
mixed with the values that must keep a chunk off the decimal stage (-0.0,
NaN payloads, ±inf, subnormals, |v·10^e| near 2^53).
"""

import hashlib
import json
import math

import numpy as np
import pyarrow as pa
from hypothesis import given, settings, strategies as st

from dumpster.chunk import decode_chunk, encode_chunk
from dumpster.codecs import (decode_fixed, decode_var, select_encode_fixed,
                             select_encode_var)
from dumpster.codecs.base import offsets_from_lengths
from dumpster.codecs.forpack import (decode_delta_for, decode_for,
                                     encode_delta_for, encode_for)
from dumpster.codecs.selector import (_ENC_FIXED, DEC_CODECS, _decimal_ints,
                                      _sample_idx)

I64 = st.integers(min_value=-(2**63), max_value=2**63 - 1)


def _wrap64(x: int) -> int:
    return (x + 2**63) % 2**64 - 2**63


@st.composite
def scaled_ints(draw):
    """base + g·k (mod 2^64): negative bases, g up to 10^12, ranges that
    reach past 2^63 (these must not scale), µs timestamps."""
    if draw(st.booleans()):     # whole-second µs timestamps
        base, g = draw(st.integers(0, 4 * 10**15)), 10**6
        ks = draw(st.lists(st.integers(0, 10**8), max_size=300))
    else:
        base = draw(I64)
        g = draw(st.integers(1, 10**12))
        ks = draw(st.lists(st.integers(0, 2**64 // g), max_size=300))
    return np.array([_wrap64(base + g * k) for k in ks], dtype=np.int64)


@st.composite
def mixed_sign_ints(draw):
    """Small-to-wide ranges around zero, optionally on a stride."""
    lim = draw(st.sampled_from([1, 100, 2**31, 2**62]))
    g = draw(st.sampled_from([1, 1, 3, 10**6]))
    ks = draw(st.lists(st.integers(-lim, lim), max_size=300))
    return np.array([_wrap64(g * k) for k in ks], dtype=np.int64)


@st.composite
def straddling_u64(draw):
    """uint64-style values on both sides of 2^63, viewed as int64."""
    lim = draw(st.sampled_from([1, 1000, 2**40]))
    ks = draw(st.lists(st.integers(-lim, lim), min_size=1, max_size=300))
    return np.array([k + 2**63 for k in ks], dtype=np.uint64).view(np.int64)


INT_ARRAYS = st.one_of(st.lists(I64, max_size=300)
                       .map(lambda v: np.array(v, dtype=np.int64)),
                       scaled_ints(), mixed_sign_ints(), straddling_u64())


@st.composite
def delta_cases(draw):
    """Sequences whose deltas exercise delta-FOR's frame and factor:
    cumulative sums of mixed-sign steps, ``first + g·k`` with g up to
    10^12 and negative starts, unsorted µs timestamps, and jumps whose
    delta range reaches 2^63 (these must not scale)."""
    kind = draw(st.sampled_from(["steps", "stride", "ts", "jumps"]))
    if kind == "steps":
        lo, hi = draw(st.sampled_from([(-7, 39), (-1, 1), (-2**40, 2**20)]))
        first = draw(I64)
        steps = draw(st.lists(st.integers(lo, hi), max_size=300))
        vals = np.cumsum([first] + steps, dtype=object)
    elif kind == "stride":
        first = draw(st.integers(-10**18, 10**18))
        g = draw(st.integers(1, 10**12))
        ks = draw(st.lists(st.integers(-10**6, 10**6), max_size=300))
        vals = [first + g * k for k in ks]
    elif kind == "ts":
        base = draw(st.integers(0, 4 * 10**15))
        ks = draw(st.lists(st.integers(0, 10**8), max_size=300))
        vals = [base + 10**6 * k for k in ks]
    else:
        vals = draw(st.lists(st.sampled_from(
            [-2**63, -2**62, -2, 0, 2, 2**62, 2**63 - 2]), max_size=300))
    return np.array([_wrap64(int(x)) for x in vals], dtype=np.int64)


# values that keep a chunk off the decimal stage, or sit at its edges
_SPECIAL_BITS = [0x8000000000000000,            # -0.0
                 0x7FF8000000000000, 0x7FF0000000000001,  # NaN payloads
                 0xFFF8DEADBEEF0001, 0x7FF0000000000000,  # NaN, +inf
                 0xFFF0000000000000, 0x0000000000000001,  # -inf, subnormal
                 0x000FFFFFFFFFFFFF, 0x8000000000000003]  # subnormals
SPECIALS = np.array(_SPECIAL_BITS, dtype=np.uint64).view(np.float64)


@st.composite
def decimal_cases(draw):
    """(float64 k / 10^e with |k| up to just past 2^53, e, |k| bound,
    specials mixed in); e runs 0..15."""
    e = draw(st.integers(0, 15))
    lim = draw(st.sampled_from([10**3, 10**9, 2**53 - 1, 2**53 + 2]))
    ks = draw(st.lists(st.integers(-lim, lim), min_size=1, max_size=200))
    vals = np.array(ks, dtype=np.float64) / float(10**e)
    extra = draw(st.lists(st.sampled_from(range(len(SPECIALS))),
                          max_size=2))
    return np.concatenate([vals, SPECIALS[extra]]), e, lim, len(extra)


FLOAT_ARRAYS = st.one_of(
    st.lists(st.floats(allow_nan=True, allow_infinity=True, width=64),
             max_size=200).map(lambda v: np.array(v, dtype=np.float64)),
    decimal_cases().map(lambda c: c[0]))


@settings(max_examples=80, deadline=None)
@given(decimal_cases(), st.integers(0, 2**32 - 1))
def test_decimal_stage_every_codec(case, seed):
    """Whatever the selector would pick: every codec of the decimal menu
    round-trips the stage's integers bit-exactly, the stage finds an e no
    larger than the generator's when |k| ≤ 10^9 and no special is mixed
    in, and refuses any chunk holding a special."""
    arr, e_gen, lim, n_special = case
    got = _decimal_ints(arr, arr[_sample_idx(len(arr), seed)])
    if lim <= 10**9 and not n_special:
        assert got is not None and got[0] <= e_gen
    finite = np.isfinite(arr).all()
    negzero = (np.signbit(arr) & (arr == 0)).any()
    if not finite or negzero:
        assert got is None
    if got is None:
        return
    e, ints = got
    assert np.abs(ints).max() < 2**53
    for c in DEC_CODECS:
        payload, inner = _ENC_FIXED[c](ints)
        out = decode_fixed(c, 0, payload, {"__d": e, "in": inner}, len(arr))
        assert np.array_equal(out.view(np.uint64), arr.view(np.uint64)), c


@settings(max_examples=80, deadline=None)
@given(INT_ARRAYS, st.integers(0, 2**32 - 1))
def test_fixed_int_roundtrip(arr, seed):
    codec, zl, payload, meta, _ = select_encode_fixed(arr, seed)
    out = decode_fixed(codec, zl, payload, meta, len(arr))
    assert out.dtype == np.int64
    assert np.array_equal(out, arr)


def _frame_oracle(u: list) -> tuple[int, int, int]:
    """(base, top, g) of the frame FOR and delta-FOR must pick over the
    uint64 values ``u``: the narrower of the unsigned and the signed range
    (a tie keeps the unsigned frame), the base as its uint64 image, and
    the residuals' common factor when 0 < top < 2^63, else 1."""
    s = [_wrap64(x) for x in u]
    if max(s) - min(s) < max(u) - min(u):
        base, resid = min(s) % 2**64, [x - min(s) for x in s]
    else:
        base, resid = min(u), [x - min(u) for x in u]
    top = max(resid)
    return base, top, math.gcd(*resid) if 0 < top < 2**63 else 1


def _assert_frame(meta: dict, u: list) -> None:
    base, top, g = _frame_oracle(u)
    if g > 1:
        assert meta["scale"] == g and "base" not in meta
        assert meta["sbase"] == base
        assert meta["swidth"] == (top // g).bit_length()
    else:
        assert "scale" not in meta and meta["base"] == base
        assert meta["width"] == top.bit_length()


@settings(max_examples=60, deadline=None)
@given(INT_ARRAYS)
def test_for_common_factor_roundtrip(arr):
    """FOR packs the narrower of the unsigned and the signed frame, scales
    exactly when 0 < range < 2^63 and that frame's residuals share a
    factor g > 1, and always round-trips."""
    payload, meta = encode_for(arr)
    assert np.array_equal(decode_for(payload, meta, len(arr)), arr)
    if len(arr) == 0:
        return
    _assert_frame(meta, [int(x) for x in arr.view(np.uint64)])


@settings(max_examples=60, deadline=None)
@given(delta_cases())
def test_delta_for_frame_and_factor_roundtrip(arr):
    """delta-FOR picks its deltas' frame and common factor by the same
    rule as FOR, and always round-trips."""
    payload, meta = encode_delta_for(arr)
    out = decode_delta_for(payload, meta, len(arr))
    assert out.dtype == np.int64 and np.array_equal(out, arr)
    if len(arr) < 2:
        return
    u = [int(x) for x in arr.view(np.uint64)]
    assert meta["first"] == u[0]
    _assert_frame(meta, [(b - a) % 2**64 for a, b in zip(u, u[1:])])


def test_frame_edges():
    """Mixed signs pack at their signed width; values straddling 2^63 as
    uint64 keep the unsigned frame; a delta range of 2^63 never scales."""
    _, meta = encode_for(np.array([-1, 1, 2, -3], dtype=np.int64))
    assert meta == {"base": 2**64 - 3, "width": 3}
    straddle = np.array([2**63 - 5, 2**63, 2**63 + 6],
                        dtype=np.uint64).view(np.int64)
    payload, meta = encode_for(straddle)
    assert meta == {"base": 2**63 - 5, "width": 4}
    assert np.array_equal(decode_for(payload, meta, 3), straddle)
    # deltas ±2^62: both frames span 2^63, every delta is even, no scale
    jumps = np.array([0, 2**62, 0, 2**62, 0], dtype=np.int64)
    payload, meta = encode_delta_for(jumps)
    assert meta == {"first": 0, "base": 2**62, "width": 64}
    assert np.array_equal(decode_delta_for(payload, meta, 5), jumps)
    # clustered keys: deltas in [-7, 39] pack at 6 bits, not 64
    keys = np.cumsum(np.random.default_rng(3).integers(-7, 40, 4001))
    payload, meta = encode_delta_for(keys)
    assert meta["width"] == 6 and len(payload) == 4000 * 6 // 8
    assert np.array_equal(decode_delta_for(payload, meta, len(keys)), keys)


def _codec_digest(enc, vals) -> str:
    payload, meta = enc(vals)
    return hashlib.sha256(bytes(payload) + json.dumps(
        meta, sort_keys=True).encode()).hexdigest()[:16]


def test_single_sign_columns_keep_their_bytes():
    """Columns whose values (FOR) or deltas (delta-FOR) never mix signs
    store the exact bytes they stored before the signed frame and
    delta-FOR's common factor existed (digests recorded from that
    encoder)."""
    rng = np.random.default_rng(15)
    nonneg = rng.integers(0, 10**6, 5000)
    negative = rng.integers(-10**6, 0, 5000)
    ts_up = 1_600_000_000_000_000 + np.cumsum(rng.integers(0, 5000, 5000))
    down = -np.cumsum(rng.integers(1, 300, 5000))
    wide = rng.integers(2**40, 2**62, 3000)
    for_cases = {"nonneg": (nonneg, "c6cc474ef992d1e4"),
                 "negative": (negative, "a945b19a0eaec67d"),
                 "ts_up": (ts_up, "2d78386f96169c38"),
                 "down": (down, "7d03c7fb17af7451"),
                 "wide": (wide, "d29c87b256a28f55")}
    for name, (vals, want) in for_cases.items():
        assert _codec_digest(encode_for, vals.astype(np.int64)) == want, name
    delta_cases = {"ts_up": (ts_up, "c84748e7ef7255de"),
                   "down": (down, "7570a6a5771ca403")}
    for name, (vals, want) in delta_cases.items():
        assert _codec_digest(encode_delta_for,
                             vals.astype(np.int64)) == want, name


@settings(max_examples=80, deadline=None)
@given(FLOAT_ARRAYS, st.integers(0, 2**32 - 1))
def test_fixed_float_roundtrip_bitwise(arr, seed):
    codec, zl, payload, meta, _ = select_encode_fixed(arr, seed)
    out = decode_fixed(codec, zl, payload, meta, len(arr))
    # bitwise equality: NaN payload bits must survive too
    assert np.array_equal(out.view(np.uint64), arr.view(np.uint64))
    if "__d" in meta:
        # the decimal stage only ever holds finite values, no -0.0
        assert np.isfinite(arr).all()
        assert not (np.signbit(arr) & (arr == 0)).any()


def _digest(vals, seed):
    codec, zl, payload, meta, _ = select_encode_fixed(vals, seed)
    p = b"".join(bytes(x) for x in payload) if isinstance(payload, list) \
        else bytes(payload)
    return codec, int(zl), hashlib.sha256(
        p + json.dumps(meta, sort_keys=True).encode()).hexdigest()[:16]


def test_non_decimal_floats_keep_their_payload():
    """Columns the decimal stage rejects store the exact bytes they stored
    before the stage existed (digests recorded from that encoder)."""
    rng = np.random.default_rng(2024)
    every = np.arange(4000)
    normal = rng.normal(size=5000)
    with_nan = np.where(every % 97 == 0, np.nan,
                        np.round(rng.random(4000) * 1e4, 2))
    with_negzero = np.where(every % 89 == 0, -0.0,
                            np.round(rng.random(4000) * 1e4, 2))
    cases = {
        "normal": (normal, (4, 0, "243c8df9c5408a0c")),
        "prices_with_nan": (with_nan, (2, 2, "c86f4c2ed0fce29d")),
        "prices_with_negzero": (with_negzero, (2, 2, "42990f54854853eb")),
        "random_f32": (rng.normal(size=3000).astype(np.float32),
                       (6, 2, "43f4c88e41ddcc2d")),
        "thirds": (np.arange(3000) / 3.0, (4, 2, "877102ce6073ea7f")),
    }
    for name, (vals, want) in cases.items():
        assert _digest(vals, 7) == want, name


@settings(max_examples=40, deadline=None)
@given(st.lists(st.binary(max_size=400), max_size=120),
       st.integers(0, 2**32 - 1))
def test_var_bytes_roundtrip(items, seed):
    data = b"".join(items)
    offsets = offsets_from_lengths(
        np.array([len(b) for b in items], dtype=np.int64))
    codec, zl, payload, meta, _ = select_encode_var(data, offsets, seed)
    out_data, out_offs = decode_var(codec, zl, payload, meta, len(items))
    assert bytes(out_data) == data
    assert np.array_equal(out_offs, offsets)


@settings(max_examples=25, deadline=None)
@given(st.lists(
    st.tuples(st.one_of(st.none(), st.binary(max_size=60)),
              st.one_of(st.none(), I64),
              st.one_of(st.none(), st.text(max_size=30))),
    max_size=80))
def test_chunk_roundtrip_with_nulls(rows):
    batch = pa.RecordBatch.from_arrays(
        [pa.array([r[0] for r in rows], type=pa.binary()),
         pa.array([r[1] for r in rows], type=pa.int64()),
         pa.array([r[2] for r in rows], type=pa.string())],
        names=["b", "i", "s"])
    blob, _ = encode_chunk(batch)
    out = decode_chunk(blob)

    def ipc(b):
        sink = pa.BufferOutputStream()
        with pa.ipc.new_stream(sink, b.schema) as w:
            w.write_batch(b)
        return sink.getvalue().to_pybytes()

    assert ipc(out) == ipc(batch)


@settings(max_examples=25, deadline=None)
@given(st.lists(
    st.tuples(st.one_of(st.none(), st.binary(max_size=60)),
              st.one_of(st.none(), I64),
              st.one_of(st.none(), st.text(max_size=30))),
    max_size=80),
    st.sets(st.sampled_from(["b", "i", "s"]), min_size=1))
def test_ranged_file_read_equals_in_memory_pruned_decode(rows, cols):
    """decode_chunk_file's ranged reads must agree with the in-memory
    pruned decode for every column subset, including all-null columns."""
    import pathlib
    import tempfile

    from dumpster.chunk import decode_chunk_file

    batch = pa.RecordBatch.from_arrays(
        [pa.array([r[0] for r in rows], type=pa.binary()),
         pa.array([r[1] for r in rows], type=pa.int64()),
         pa.array([r[2] for r in rows], type=pa.string())],
        names=["b", "i", "s"])
    blob, _ = encode_chunk(batch)
    fp = pathlib.Path(tempfile.mkdtemp(prefix="dm_rng_")) / "c.dmc"
    fp.write_bytes(blob)
    want = sorted(cols)
    a = decode_chunk(blob, columns=want)
    br = []
    b = decode_chunk_file(str(fp), columns=want, bytes_read=br)

    def ipc(x):
        sink = pa.BufferOutputStream()
        with pa.ipc.new_stream(sink, x.schema) as w:
            w.write_batch(x)
        return sink.getvalue().to_pybytes()

    assert ipc(a) == ipc(b)
    assert br[0] <= len(blob) + 1


@settings(max_examples=20, deadline=None)
@given(st.lists(
    st.tuples(
        st.one_of(st.none(), st.floats(allow_nan=True, allow_infinity=True,
                                       width=32)),
        st.one_of(st.none(), st.decimals(min_value=-10**15, max_value=10**15,
                                         places=4)),
        st.lists(st.floats(allow_nan=False, allow_infinity=False, width=32),
                 max_size=6),
        st.lists(st.binary(max_size=12), max_size=4)),
    max_size=50))
def test_full_type_surface_chunk_roundtrip(rows):
    """float32 (NaN/inf bits), decimal128, list<float>, list<binary> — the
    whole extended type surface through one chunk, any selector seed."""
    import decimal

    batch = pa.RecordBatch.from_arrays(
        [pa.array([r[0] for r in rows], type=pa.float32()),
         pa.array([None if r[1] is None else r[1].quantize(
             decimal.Decimal("0.0001")) for r in rows],
             type=pa.decimal128(20, 4)),
         pa.array([r[2] for r in rows], type=pa.list_(pa.float32())),
         pa.array([r[3] for r in rows], type=pa.list_(pa.binary()))],
        names=["f32", "dec", "emb", "blobs"])
    blob, _ = encode_chunk(batch)
    out = decode_chunk(blob)

    def ipc(b):
        sink = pa.BufferOutputStream()
        with pa.ipc.new_stream(sink, b.schema) as w:
            w.write_batch(b)
        return sink.getvalue().to_pybytes()

    assert ipc(out) == ipc(batch)
