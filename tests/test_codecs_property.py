"""Property-based round-trip tests for the codec layer (hypothesis).

The pytest suites in test_codecs.py cover hand-picked adversarial cases;
these properties let hypothesis search the space: any int64 array, any
float array (NaN/±inf included), any list of byte strings (non-UTF8,
empty, long) must survive select→encode→decode bit-identically, under
every seed (codec choice must never affect correctness).

The generators also aim at the two exact integer stages: ints of the form
``base + g·k`` (FOR's common factor) and float64 values that are exact
decimals, mixed with the values that must keep a chunk off the decimal
stage (-0.0, NaN payloads, ±inf, subnormals, |v·10^e| near 2^53).
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
from dumpster.codecs.forpack import decode_for, encode_for
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


INT_ARRAYS = st.one_of(st.lists(I64, max_size=300)
                       .map(lambda v: np.array(v, dtype=np.int64)),
                       scaled_ints())

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


@settings(max_examples=60, deadline=None)
@given(INT_ARRAYS)
def test_for_common_factor_roundtrip(arr):
    """FOR scales exactly when 0 < range < 2^63 and the residuals share
    a factor g > 1, and always round-trips."""
    payload, meta = encode_for(arr)
    assert np.array_equal(decode_for(payload, meta, len(arr)), arr)
    if len(arr) == 0:
        return
    u = arr.view(np.uint64)
    resid = [int(x) for x in (u - u.min())]
    top = max(resid)
    g = math.gcd(*resid) if 0 < top < 2**63 else 1
    if g > 1:
        assert meta["scale"] == g and "base" not in meta
        assert meta["swidth"] == (top // g).bit_length()
    else:
        assert "scale" not in meta and meta["width"] == top.bit_length()


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
    max_size=80),
    st.integers(0, 10**6))
def test_chunk_roundtrip_with_nulls(rows, seq):
    batch = pa.RecordBatch.from_arrays(
        [pa.array([r[0] for r in rows], type=pa.binary()),
         pa.array([r[1] for r in rows], type=pa.int64()),
         pa.array([r[2] for r in rows], type=pa.string())],
        names=["b", "i", "s"])
    blob, _ = encode_chunk(batch, table_id="prop", bucket=0, chunk_seq=seq)
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
    st.sets(st.sampled_from(["b", "i", "s"]), min_size=1),
    st.integers(0, 10**6))
def test_ranged_file_read_equals_in_memory_pruned_decode(rows, cols, seq):
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
    blob, _ = encode_chunk(batch, table_id="prop", bucket=0, chunk_seq=seq)
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
    max_size=50),
    st.integers(0, 10**6))
def test_full_type_surface_chunk_roundtrip(rows, seq):
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
    blob, _ = encode_chunk(batch, table_id="prop_full", bucket=1,
                           chunk_seq=seq)
    out = decode_chunk(blob)

    def ipc(b):
        sink = pa.BufferOutputStream()
        with pa.ipc.new_stream(sink, b.schema) as w:
            w.write_batch(b)
        return sink.getvalue().to_pybytes()

    assert ipc(out) == ipc(batch)
