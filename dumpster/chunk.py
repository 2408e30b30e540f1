"""Chunk container format — the engine's on-disk unit.

Where the reference hands rows to parquet-avro and lets it produce pages
(reference: RecordWriter.java:27-34, 256 MiB row groups / 64 KiB pages set
at HourlyBasedRecordConsumer.java:161-162), this engine serialises one
Arrow RecordBatch per chunk into a self-describing binary container
(format v2, "DMC2"):

    b"DMC2"
    header: u32 schema_len | Arrow IPC schema bytes | u32 n_cols | u64 n_rows
    per column section:
        u32 desc_len | desc JSON {name, codec, zlib, kind, meta, ...}
        u32 vbm_len  | validity bitmap (LSB-first packbits; absent if 0)
        u64 payload_len | codec payload
    footer JSON: {"h": [hdr_len, hdr_crc], "cols": [[name, off, len, crc]..]}
    u32 footer_len | u32 footer_crc | b"2DMC"

The footer is the column index: a pruned scan reads the 12-byte tail, the
footer, the header, and ONLY the byte ranges of requested columns
(decode_chunk_file) — the engine's analog of Parquet column chunks /
Iceberg split offsets.  At 100-TB scale a one-column scan therefore reads
~the column's share of the bytes, not the whole table; integrity is
per-section crc32 so ranged reads stay verifiable without touching the
rest of the file.

Codec shapes (codecs/base.py): integer-family columns (ints, bool,
timestamp, date) normalise to int64 — frame-of-reference bit-packing
erases the widening; floats stay native; string/binary flow as
(data, offsets) pairs without materialising Python objects.

decode_chunk(encode_chunk(batch)) reproduces the batch bit-identically,
including nulls, non-UTF8 binary, and timestamp units — the north_rule's
round-trip invariant.
"""

from __future__ import annotations

import json
import struct
import zlib

import numpy as np
import pyarrow as pa

from .codecs import (CODEC_NAMES, decode_fixed, decode_var,
                     select_encode_fixed, select_encode_var, stable_seed)

MAGIC2 = b"DMC2"         # v2: per-section crc + footer column index
TAIL_MAGIC = b"2DMC"
_TAIL_LEN = 12           # u32 footer_len | u32 footer_crc | b"2DMC"

_KIND_INT = "i"      # ints / bool / timestamp / date → int64
_KIND_FLOAT = "f"    # float32/float64 native
_KIND_VAR = "v"      # string/binary → (data, offsets)
_KIND_LIST = "l"     # list<numeric> (e.g. embeddings) → lengths + child
_KIND_DECIMAL = "d"  # decimal128 → (lo: uint64, hi: int64) column pair
_KIND_LISTVAR = "w"  # list<string|binary> → lengths + var child


def _is_var(t: pa.DataType) -> bool:
    return (pa.types.is_string(t) or pa.types.is_large_string(t)
            or pa.types.is_binary(t) or pa.types.is_large_binary(t))


def _kind_of(t: pa.DataType) -> str:
    if (pa.types.is_integer(t) or pa.types.is_boolean(t)
            or pa.types.is_timestamp(t) or pa.types.is_date(t)
            or pa.types.is_time(t)):
        return _KIND_INT
    if pa.types.is_floating(t):
        return _KIND_FLOAT
    if _is_var(t):
        return _KIND_VAR
    if pa.types.is_decimal128(t):
        return _KIND_DECIMAL
    if pa.types.is_list(t) or pa.types.is_large_list(t):
        if (pa.types.is_integer(t.value_type)
                or pa.types.is_floating(t.value_type)):
            return _KIND_LIST
        if _is_var(t.value_type):
            return _KIND_LISTVAR
    raise TypeError(f"unsupported column type for codec layer: {t}")


def _decimal_parts(arr: pa.Array) -> tuple[np.ndarray, np.ndarray]:
    """decimal128 → (lo: int64 bit view, hi: int64) halves.

    The 16-byte little-endian two's-complement values split into two int64
    columns: ``hi`` is all 0/-1 for every decimal that fits 64 bits (i.e.
    virtually always), so RLE reduces it to a handful of bytes while ``lo``
    gets the normal integer codec menu — the reference's parquet-avro sink
    stores the same values as FIXED_LEN_BYTE_ARRAY with no such split
    (AvroToHive.java:29-37 passes types through untouched)."""
    raw = np.frombuffer(arr.buffers()[1], dtype=np.uint64,
                        count=2 * len(arr), offset=arr.offset * 16)
    return raw[0::2].view(np.int64), raw[1::2].view(np.int64)


def _list_parts(arr: pa.Array) -> tuple[np.ndarray, pa.Array]:
    """(per-row lengths, flat child values) of a list<numeric> column.

    Child nulls are rejected (an embedding with a null element is a data
    bug, not a layout case); row-level nulls are handled by the caller's
    validity bitmap like every other kind.
    """
    a = arr.cast(pa.list_(arr.type.value_type))
    offs = np.frombuffer(a.buffers()[1], dtype=np.int32,
                         count=len(a) + 1, offset=a.offset * 4).astype(np.int64)
    child = a.values.slice(int(offs[0]), int(offs[-1] - offs[0]))
    if child.null_count:
        raise TypeError("list columns with null elements are not supported")
    return np.diff(offs), child


def _is_32bit_temporal(t: pa.DataType) -> bool:
    return pa.types.is_date32(t) or (pa.types.is_time(t)
                                     and t.bit_width == 32)


def _int_bridge_values(dense: pa.Array) -> np.ndarray:
    """_KIND_INT → int64 NumPy values, covering the full type family:
    date32/time32 have no direct int64 cast (two-step via int32), and
    uint64 ≥ 2^63 fails Arrow's checked cast — it bit-views instead
    (modular FOR/delta arithmetic keeps the round trip exact)."""
    t = dense.type
    if pa.types.is_uint64(t):
        return np.asarray(dense.view(pa.int64()))
    if _is_32bit_temporal(t):
        return np.asarray(dense.cast(pa.int32()).cast(pa.int64()))
    return np.asarray(dense.cast(pa.int64()))


def _int_bridge_restore(arr: pa.Array, target_type: pa.DataType) -> pa.Array:
    """Inverse of :func:`_int_bridge_values` for an int64-typed array."""
    if pa.types.is_uint64(target_type):
        return arr.view(pa.uint64())
    if _is_32bit_temporal(target_type):
        return arr.cast(pa.int32()).cast(target_type)
    return arr.cast(target_type)


def _dense_and_validity(arr: pa.Array) -> tuple[pa.Array, np.ndarray | None]:
    if arr.null_count == 0:
        return arr, None
    valid = np.asarray(arr.is_valid())
    return arr.drop_null(), valid


def _var_parts_validity(arr: pa.Array):
    """(data, dense offsets, validity) for a var-width column WITHOUT
    copying the payload.  ``drop_null()`` on a binary column copies the
    whole data buffer (profiled at ~70% of the html chunk encode); but
    null var rows occupy zero data bytes in every layout we produce
    (Arrow builders, Spark's converters, and our own decoder), so
    compacting the OFFSETS over valid rows leaves the data buffer
    untouched.  A null row with nonzero payload bytes (legal in Arrow)
    falls back to the copying path."""
    if arr.null_count == 0:
        data, offs = _var_parts(arr)
        return data, offs, None
    valid = np.asarray(arr.is_valid())
    data, offs = _var_parts(arr)
    lens = np.diff(offs)
    if lens[~valid].any():
        ddata, doffs = _var_parts(arr.drop_null())
        return ddata, doffs, valid
    comp = np.empty(int(valid.sum()) + 1, dtype=np.int64)
    comp[0] = 0
    np.cumsum(lens[valid], out=comp[1:])
    return data, comp, valid


_BOUND_LEN = 16


def _inc_bytes(b: bytes) -> bytes | None:
    """Smallest byte string > every string with prefix ``b`` — Parquet's
    truncated-upper-bound increment; None if b is all 0xFF (unbounded)."""
    ba = bytearray(b)
    for i in reversed(range(len(ba))):
        if ba[i] != 0xFF:
            ba[i] += 1
            return bytes(ba[:i + 1])
    return None


def _var_bounds(arr: pa.Array, n_valid: int):
    """(smin, smax) base64 zone bounds for a string/binary column, or
    (None, None).  smin is an INCLUSIVE lower bound (truncated prefix ≤
    true min); smax is an EXCLUSIVE upper bound (> true max: truncated +
    incremented, or exact max + 0x00), or None when no byte upper bound
    exists — conservative on both sides, so pruning stays exact."""
    import base64

    import pyarrow.compute as pc
    if not n_valid:
        return None, None
    mm = pc.min_max(arr)
    vmin, vmax = mm["min"].as_py(), mm["max"].as_py()
    if vmin is None:
        return None, None
    if isinstance(vmin, str):
        vmin, vmax = vmin.encode(), vmax.encode()
    hi = (vmax + b"\x00" if len(vmax) <= _BOUND_LEN
          else _inc_bytes(vmax[:_BOUND_LEN]))
    return (base64.b64encode(vmin[:_BOUND_LEN]).decode(),
            base64.b64encode(hi).decode() if hi is not None else None)


def _var_parts(arr: pa.Array):
    """(data, offsets) in Arrow layout; data is a zero-copy memoryview —
    only codecs that truly need a bytes object (FSST's replace chain)
    materialise one.  32-bit-offset types (string/binary) are read
    directly rather than cast to large_binary: that cast copies the whole
    data buffer, which profiling showed as ~8%% of the chunk encode wall
    on html-heavy batches."""
    t = arr.type
    if pa.types.is_string(t) or pa.types.is_binary(t):
        bufs = arr.buffers()
        offs = np.frombuffer(bufs[1], dtype=np.int32, count=len(arr) + 1,
                             offset=arr.offset * 4).astype(np.int64)
    elif pa.types.is_large_string(t) or pa.types.is_large_binary(t):
        bufs = arr.buffers()
        offs = np.frombuffer(bufs[1], dtype=np.int64, count=len(arr) + 1,
                             offset=arr.offset * 8)
    else:
        arr = arr.cast(pa.large_binary())
        bufs = arr.buffers()
        offs = np.frombuffer(bufs[1], dtype=np.int64, count=len(arr) + 1,
                             offset=arr.offset * 8)
    start, end = int(offs[0]), int(offs[-1])
    data = memoryview(bufs[2])[start:end] if bufs[2] is not None else memoryview(b"")
    return data, (offs - start)


def _pieces(payload) -> list:
    return payload if isinstance(payload, list) else [payload]


def _stages(meta: dict) -> dict:
    """The exact integer stages a fixed-width codec meta records, for
    col_stats: ``dec`` (float64 stored as int / 10^e) and ``scale`` (FOR
    residuals divided by their common factor)."""
    out = {}
    if "__d" in meta:
        out["dec"] = meta["__d"]
        meta = meta["in"]
    if "scale" in meta:
        out["scale"] = meta["scale"]
    return out


def encode_chunk_pieces(batch: pa.RecordBatch, *, table_id: str = "t",
                        bucket: int = 0, chunk_seq: int = 0,
                        plain_only: bool = False) -> tuple[list, list[dict]]:
    """Encode one RecordBatch → (list of buffers, per-column stats).

    ``plain_only`` stores every column PLAIN with no byte stage, string
    bounds or bloom (see select_encode_fixed's ``plain``).

    The container is produced as a list of buffers (zero-copy where the
    codec allows, e.g. PLAIN passthrough of binary columns) with the CRC
    computed incrementally — the hot path never concatenates the multi-MB
    payloads into one bytes object; the caller streams the pieces to disk.
    """
    n_rows = batch.num_rows
    for nm in batch.schema.names:
        if nm.startswith("__bloom:"):
            # the container stores bloom index sections under this
            # prefix; a data column named like one would be skipped as
            # an index on decode (silent all-NULL loss)
            raise ValueError(
                f"column name {nm!r} collides with the chunk container's "
                f"bloom-section namespace ('__bloom:'); rename it")
    schema_bytes = batch.schema.serialize().to_pybytes()
    out: list = [MAGIC2]
    pos = 4
    crc = 0

    def put(piece):
        nonlocal crc, pos
        out.append(piece)
        crc = zlib.crc32(piece, crc)
        pos += len(piece)

    put(struct.pack("<I", len(schema_bytes)) + schema_bytes
        + struct.pack("<IQ", batch.num_columns, n_rows))
    hdr_len, hdr_crc = pos - 4, crc & 0xFFFFFFFF
    index: list = []
    stats = []
    for name, col in zip(batch.schema.names, batch.columns):
        arr = col.combine_chunks() if isinstance(col, pa.ChunkedArray) else col
        kind = _kind_of(arr.type)
        seed = stable_seed(table_id, bucket, chunk_seq, name)
        vals = fmeta = None
        smin = smax = None
        bloom_sec = None
        if kind == _KIND_VAR:
            # zero-copy path: offsets are compacted over valid rows, the
            # payload buffer is used in place (see _var_parts_validity)
            data, offsets, valid = _var_parts_validity(arr)
            n_valid = len(offsets) - 1
            raw_bytes = len(data) + 8 * n_valid
            codec, zl, payload, meta, _ = select_encode_var(
                data, offsets, seed, plain_only)
            if not plain_only:
                from .bloom import MAX_AVG_LEN, bloom_build, want_bloom
                if n_valid and len(data) <= 8 * MAX_AVG_LEN * n_valid:
                    # avg ≤ 1 KiB: skip the min/max scan on html-sized
                    # columns — their bounds never prune anything
                    smin, smax = _var_bounds(arr, n_valid)
                if want_bloom(n_valid, len(data)):
                    bloom_sec = bloom_build(data, offsets)
        elif kind == _KIND_LIST:
            dense, valid = _dense_and_validity(arr)
            n_valid = len(dense)
            raw_bytes = _raw_size(dense, kind)
            lengths, child = _list_parts(dense)
            if pa.types.is_uint64(child.type):
                # same bridge as _int_bridge_values: uint64 ≥ 2^63 fails
                # Arrow's checked cast — bit-view keeps the round trip
                # exact (round-5 review finding: list<uint64> crashed)
                cvals = np.asarray(child.view(pa.int64()))
            elif pa.types.is_integer(child.type):
                cvals = np.asarray(child.cast(pa.int64()))
            else:
                cvals = np.asarray(child)
            from .codecs.base import pack_lengths
            lp, lmeta = pack_lengths(lengths)
            codec, zl, cpayload, cmeta, _ = select_encode_fixed(
                cvals, seed, plain_only)
            payload = [lp, *_pieces(cpayload)]
            meta = {"lens": lmeta, "lpn": len(lp), "child": cmeta,
                    "cn": int(len(cvals))}
            fmeta = cmeta
        elif kind == _KIND_DECIMAL:
            dense, valid = _dense_and_validity(arr)
            n_valid = len(dense)
            raw_bytes = _raw_size(dense, kind)
            lo, hi = _decimal_parts(dense)
            codec, zl, lop, lometa, _ = select_encode_fixed(
                np.ascontiguousarray(lo), seed, plain_only)
            hic, hizl, hip, himeta, _ = select_encode_fixed(
                np.ascontiguousarray(hi), seed + 1, plain_only)
            lop_pieces, hip_pieces = _pieces(lop), _pieces(hip)
            payload = [*lop_pieces, *hip_pieces]
            meta = {"lo": lometa, "lon": sum(len(p) for p in lop_pieces),
                    "hi": himeta, "hic": hic, "hizl": int(hizl)}
            fmeta = lometa
        elif kind == _KIND_LISTVAR:
            dense, valid = _dense_and_validity(arr)
            n_valid = len(dense)
            raw_bytes = _raw_size(dense, kind)
            lengths, child = _list_parts(dense)
            cdata, coffs = _var_parts(child)
            from .codecs.base import pack_lengths
            lp, lmeta = pack_lengths(lengths)
            codec, zl, cpayload, cmeta, _ = select_encode_var(
                cdata, coffs, seed, plain_only)
            payload = [lp, *_pieces(cpayload)]
            meta = {"lens": lmeta, "lpn": len(lp), "child": cmeta,
                    "cn": int(len(child))}
        else:
            dense, valid = _dense_and_validity(arr)
            n_valid = len(dense)
            raw_bytes = _raw_size(dense, kind)
            if kind == _KIND_INT:
                vals = _int_bridge_values(dense)
            else:
                vals = np.asarray(dense)
            codec, zl, payload, meta, _ = select_encode_fixed(
                vals, seed, plain_only)
            fmeta = meta
        pieces = _pieces(payload)
        plen = sum(len(p) for p in pieces)
        # zone maps: per-chunk min/max for numeric-family columns — the
        # manifest-level analog of the reference's dt=/hr= directory
        # partitioning (HourlyBasedRecordConsumer.java:125-131) and of
        # Iceberg manifest stats; decode_table prunes chunks with them
        vmin = vmax = None
        if vals is not None and n_valid:
            if vals.dtype.kind == "f":
                # only NaN is excluded (unordered); ±inf ARE ordered
                # values — excluding them made pruning drop chunks whose
                # only matching rows were infinities
                ordered = vals[~np.isnan(vals)]
                if len(ordered):
                    vmin, vmax = ordered.min().item(), ordered.max().item()
            elif pa.types.is_uint64(arr.type):
                pass   # int64 bit-views of ≥2^63 values order wrongly —
                       # no zone map rather than a wrong one
            else:
                vmin, vmax = vals.min().item(), vals.max().item()
            if vmin is not None and pa.types.is_timestamp(arr.type):
                # zone values normalize to MICROSECONDS (the unit every
                # predicate is normalized to, engine._stat_value) with
                # conservative rounding — a ns/ms/s-unit column otherwise
                # pruned on raw-unit numbers and lost matching chunks
                unit = arr.type.unit
                if unit == "ns":
                    vmin, vmax = vmin // 1000, -(-vmax // 1000)
                elif unit == "ms":
                    vmin, vmax = vmin * 1000, vmax * 1000
                elif unit == "s":
                    vmin, vmax = vmin * 1_000_000, vmax * 1_000_000
        vbm = np.packbits(valid, bitorder="little").tobytes() if valid is not None else b""
        desc = {"name": name, "codec": codec, "zlib": int(zl), "kind": kind,
                "meta": meta, "n_valid": n_valid}
        desc_b = json.dumps(desc, separators=(",", ":")).encode()
        sec_start, crc = pos, 0   # per-section crc → verifiable ranged reads
        put(struct.pack("<I", len(desc_b)) + desc_b)
        put(struct.pack("<I", len(vbm)) + vbm)
        put(struct.pack("<Q", plen))
        for p in pieces:
            put(p)
        index.append([name, sec_start, pos - sec_start, crc & 0xFFFFFFFF])
        st = {"column": name, "codec": CODEC_NAMES[codec],
              "zlib": int(zl), "raw_bytes": raw_bytes,
              "encoded_bytes": plen + len(desc_b) + len(vbm) + 16,
              "n_nulls": int(arr.null_count),
              "vmin": vmin, "vmax": vmax}
        if fmeta is not None:
            st.update(_stages(fmeta))
        if smin is not None:
            # string zone map: base64 of truncated byte bounds (Parquet
            # truncation semantics — smin ≤ true min; smax ≥ true max or
            # None when the max prefix cannot be upper-bounded)
            st["smin"] = smin
            st["smax"] = smax
        if bloom_sec is not None:
            bitmap, bdesc = bloom_sec
            bdesc_b = json.dumps(bdesc, separators=(",", ":")).encode()
            b_start, crc = pos, 0
            put(struct.pack("<I", len(bdesc_b)) + bdesc_b)
            put(bitmap)
            index.append([f"__bloom:{name}", b_start, pos - b_start,
                          crc & 0xFFFFFFFF])
            st["bloom"] = 1
        stats.append(st)
    footer = json.dumps({"h": [hdr_len, hdr_crc], "cols": index},
                        separators=(",", ":")).encode()
    out.append(footer)
    out.append(struct.pack("<II", len(footer), zlib.crc32(footer) & 0xFFFFFFFF)
               + TAIL_MAGIC)
    return out, stats


def encode_chunk(batch: pa.RecordBatch, *, table_id: str = "t",
                 bucket: int = 0, chunk_seq: int = 0) -> tuple[bytes, list[dict]]:
    """Encode one RecordBatch → (container bytes, per-column stats)."""
    pieces, stats = encode_chunk_pieces(
        batch, table_id=table_id, bucket=bucket, chunk_seq=chunk_seq)
    return b"".join(bytes(p) if isinstance(p, memoryview) else p
                    for p in pieces), stats


def _assemble(arrays, names, schema, columns) -> pa.RecordBatch:
    if columns is None:
        return pa.RecordBatch.from_arrays(arrays, schema=schema)
    if not columns:
        # a zero-column RecordBatch cannot carry a row count (Arrow
        # collapses it to num_rows 0), so columns=[] would silently
        # report 0 rows for every chunk — refuse loudly, mirroring
        # engine.decode_table (round-5 review finding)
        raise ValueError(
            "columns=[] cannot be decoded (a zero-column batch loses "
            "the row count); pass columns=None or at least one column")
    order = {n: i for i, n in enumerate(names)}
    sel = [c for c in columns if c in order]
    fields = [schema.field(c) for c in sel]
    return pa.RecordBatch.from_arrays([arrays[order[c]] for c in sel],
                                      schema=pa.schema(fields))


def _read_footer(read, size: int) -> dict:
    """Parse and verify the footer through ``read(off, n)``: tail magic,
    a footer length that fits inside the container, footer crc.  Every
    failure is a ValueError (a format error) — an unchecked length would
    otherwise send a negative offset into a file seek and surface as an
    I/O error."""
    if size < 4 + _TAIL_LEN:
        raise ValueError("chunk too short")
    tail = read(size - _TAIL_LEN, _TAIL_LEN)
    if bytes(tail[8:]) != TAIL_MAGIC:
        raise ValueError("bad chunk tail magic")
    flen, fcrc = struct.unpack_from("<II", tail, 0)
    if flen > size - _TAIL_LEN - 4:
        raise ValueError(f"chunk footer length {flen} out of range")
    foot_b = read(size - _TAIL_LEN - flen, flen)
    if zlib.crc32(foot_b) & 0xFFFFFFFF != fcrc:
        raise ValueError("chunk footer crc mismatch")
    return json.loads(bytes(foot_b))


def _decode_v2(read, size: int, columns) -> pa.RecordBatch:
    """v2 decode over a ``read(off, n) -> bytes-like`` callable — the same
    code path serves in-memory blobs and ranged file/object-store reads.
    ``read`` may return memoryview (zero-copy in-memory path) or bytes;
    only the small JSON/schema pieces are materialized."""
    footer = _read_footer(read, size)
    hdr_len, hdr_crc = footer["h"]
    hdr = read(4, hdr_len)
    if zlib.crc32(hdr) & 0xFFFFFFFF != hdr_crc:
        raise ValueError("chunk header crc mismatch")
    (schema_len,) = struct.unpack_from("<I", hdr, 0)
    schema = pa.ipc.read_schema(pa.BufferReader(bytes(hdr[4:4 + schema_len])))
    _, n_rows = struct.unpack_from("<IQ", hdr, 4 + schema_len)
    arrays, names = [], []
    for name, off, ln, crc in footer["cols"]:
        if name.startswith("__bloom:"):
            continue    # index sections, not data — see read_blooms
        if columns is not None and name not in columns:
            continue
        sec = read(off, ln)
        if zlib.crc32(sec) & 0xFFFFFFFF != crc:
            raise ValueError(f"chunk crc mismatch in column {name!r}")
        p = 0
        (dlen,) = struct.unpack_from("<I", sec, p); p += 4
        desc = json.loads(bytes(sec[p:p + dlen])); p += dlen
        (vlen,) = struct.unpack_from("<I", sec, p); p += 4
        vbm = sec[p:p + vlen]; p += vlen
        (plen,) = struct.unpack_from("<Q", sec, p); p += 8
        payload = sec[p:p + plen]
        arrays.append(_decode_column(desc, vbm, payload, n_rows,
                                     schema.field(name).type))
        names.append(name)
    return _assemble(arrays, names, schema, columns)


def decode_chunk(blob: bytes, columns: list[str] | None = None) -> pa.RecordBatch:
    """Decode a chunk container; ``columns`` prunes decode work per column
    (non-requested payloads are skipped without decompression).  For
    on-disk chunks prefer decode_chunk_file, which also prunes the I/O."""
    if blob[:4] != MAGIC2:
        raise ValueError("bad chunk magic")
    # memoryview slicing keeps every section/payload zero-copy over the
    # blob; the Arrow buffers built from them hold the blob alive.  The
    # in-memory decode previously copied each big column three times
    # (read-slice, payload-slice, plain-var-slice) — ~45% of the html
    # column's decode wall
    mv = memoryview(blob)
    return _decode_v2(lambda off, n: mv[off:off + n], len(blob), columns)


TAIL_PREFETCH = 64 * 1024  # one ranged GET usually covers tail+footer


def _ranged_reader(f, size: int, n_read: list):
    """``read(off, n)`` over an open chunk file: one prefetched tail block
    serves the tail and (usually) the footer, every other range is its
    own seek + read.  ``n_read[0]`` accumulates the bytes read."""
    tail_off = max(0, size - TAIL_PREFETCH)
    f.seek(tail_off)
    tb = memoryview(f.read())
    n_read[0] += len(tb)

    def read(off: int, n: int):
        if off >= tail_off:
            return tb[off - tail_off:off - tail_off + n]
        f.seek(off)
        n_read[0] += n
        return memoryview(f.read(n))
    return read


def decode_chunk_file(path: str, columns: list[str] | None = None,
                      *, bytes_read: list | None = None) -> pa.RecordBatch:
    """Decode a chunk file; with ``columns`` only the footer, header, and
    the requested columns' byte ranges are read from disk (Parquet-style
    column-chunk I/O pruning via the v2 footer index).  ``bytes_read``, if
    given, is appended the number of bytes actually read (scan metric).
    """
    import os as _os
    with open(path, "rb") as f:
        size = _os.fstat(f.fileno()).st_size
        if columns is None:
            blob = f.read()
            if bytes_read is not None:
                bytes_read.append(len(blob))
            return decode_chunk(blob, columns)
        n_read = [0]
        batch = _decode_v2(_ranged_reader(f, size, n_read), size, columns)
    if bytes_read is not None:
        bytes_read.append(n_read[0])
    return batch


def read_blooms(path: str, cols: list[str] | None = None,
                *, bytes_read: list | None = None) -> dict:
    """→ {column: (desc, bitmap)} for the chunk's bloom sections, via
    ranged reads only (tail prefetch + one read per requested bloom —
    never the column data).  Missing blooms or an unverifiable footer
    → {}.  This is the task-side point-lookup gate: a negative membership test proves a
    ``col = value`` predicate matches nothing in the chunk, so the whole
    decode is skipped (Parquet bloom-filter semantics)."""
    import os as _os
    out: dict = {}
    n_read = [0]
    with open(path, "rb") as f:
        size = _os.fstat(f.fileno()).st_size
        read = _ranged_reader(f, size, n_read)
        try:
            footer = _read_footer(read, size)
        except ValueError:
            # an unverifiable footer means "cannot prune here", not a
            # failed scan: the column data may still be readable
            return out
        for name, off, ln, crc in footer["cols"]:
            if not name.startswith("__bloom:"):
                continue
            col = name[len("__bloom:"):]
            if cols is not None and col not in cols:
                continue
            sec = read(off, ln)
            if zlib.crc32(sec) & 0xFFFFFFFF != crc:
                raise ValueError(f"bloom crc mismatch for column {col!r}")
            (dlen,) = struct.unpack_from("<I", sec, 0)
            desc = json.loads(bytes(sec[4:4 + dlen]))
            out[col] = (desc, bytes(sec[4 + dlen:]))
    if bytes_read is not None:
        bytes_read.append(n_read[0])
    return out


def _decode_column(desc: dict, vbm: bytes, payload: bytes, n_rows: int,
                   target_type: pa.DataType) -> pa.Array:
    kind, codec, zl, meta = desc["kind"], desc["codec"], desc["zlib"], desc["meta"]
    n_valid = desc["n_valid"]
    valid = None
    if vbm:
        valid = np.unpackbits(np.frombuffer(vbm, dtype=np.uint8),
                              count=n_rows, bitorder="little").astype(bool)
    if kind == _KIND_DECIMAL:
        lon = meta["lon"]
        lo = decode_fixed(codec, zl, payload[:lon], meta["lo"], n_valid)
        hi = decode_fixed(meta["hic"], meta["hizl"], payload[lon:],
                          meta["hi"], n_valid)
        dense16 = np.empty(2 * n_valid, dtype=np.uint64)
        dense16[0::2] = lo.view(np.uint64)
        dense16[1::2] = hi.view(np.uint64)
        if valid is not None:
            full16 = np.zeros(2 * n_rows, dtype=np.uint64)
            mask = np.repeat(valid, 2)
            full16[mask] = dense16
        else:
            full16 = dense16
        return pa.Array.from_buffers(
            target_type, n_rows,
            [_vbuf(valid), pa.py_buffer(full16)],
            null_count=-1 if valid is not None else 0)
    if kind == _KIND_LISTVAR:
        from .codecs.base import offsets_from_lengths, unpack_lengths
        lpn = meta["lpn"]
        lengths = unpack_lengths(payload[:lpn], meta["lens"])
        cdata, coffs = decode_var(codec, zl, payload[lpn:], meta["child"],
                                  meta["cn"])
        child_type = target_type.value_type
        child = pa.Array.from_buffers(
            pa.large_binary(), meta["cn"],
            [None, pa.py_buffer(np.ascontiguousarray(coffs, dtype=np.int64)),
             pa.py_buffer(cdata)]).cast(child_type)
        if valid is not None:
            full_lens = np.zeros(n_rows, dtype=np.int64)
            full_lens[valid] = lengths
            lengths = full_lens
        offs = offsets_from_lengths(lengths).astype(np.int32)
        arr = pa.Array.from_buffers(
            pa.list_(child_type), n_rows,
            [_vbuf(valid), pa.py_buffer(offs)],
            null_count=-1 if valid is not None else 0, children=[child])
        return arr.cast(target_type)
    if kind == _KIND_LIST:
        from .codecs.base import offsets_from_lengths, unpack_lengths
        lpn = meta["lpn"]
        lengths = unpack_lengths(payload[:lpn], meta["lens"])
        cvals = decode_fixed(codec, zl, payload[lpn:], meta["child"],
                             meta["cn"])
        child_type = target_type.value_type
        if pa.types.is_uint64(child_type):
            # bit-view back: a stored value ≥ 2^63 travels as a negative
            # int64 and the checked cast would refuse it (the mirror of
            # the encode-side bridge)
            child = pa.array(cvals.view(np.uint64), type=child_type)
        elif pa.types.is_integer(child_type):
            child = pa.array(cvals.view(np.int64)).cast(child_type)
        else:
            child = pa.array(cvals, type=child_type)
        if valid is not None:
            full_lens = np.zeros(n_rows, dtype=np.int64)
            full_lens[valid] = lengths
            lengths = full_lens
        offs = offsets_from_lengths(lengths).astype(np.int32)
        arr = pa.Array.from_buffers(
            pa.list_(child_type), n_rows,
            [_vbuf(valid), pa.py_buffer(offs)],
            null_count=-1 if valid is not None else 0, children=[child])
        return arr.cast(target_type)
    if kind == _KIND_VAR:
        data, offsets = decode_var(codec, zl, payload, meta, n_valid)
        if valid is not None:
            dense_lens = np.diff(offsets)
            lens = np.zeros(n_rows, dtype=np.int64)
            lens[valid] = dense_lens
            offsets = np.concatenate(([0], np.cumsum(lens)))
        arr = pa.Array.from_buffers(
            pa.large_binary(), n_rows,
            [_vbuf(valid), pa.py_buffer(np.ascontiguousarray(offsets, dtype=np.int64)),
             pa.py_buffer(data)],
            null_count=-1 if valid is not None else 0)
        return arr.cast(target_type)
    vals = decode_fixed(codec, zl, payload, meta, n_valid)
    if kind == _KIND_INT:
        vals = vals.view(np.int64)
        bridge = pa.int64()
    else:
        bridge = pa.from_numpy_dtype(vals.dtype)
    if valid is not None:
        # the zero-fill scatter buffer is only needed when nulls exist —
        # allocating it unconditionally wasted an n_rows zero-fill per
        # non-null fixed column on the decode hot path
        full = np.zeros(n_rows, dtype=vals.dtype)
        full[valid] = vals
    else:
        full = np.ascontiguousarray(vals)
    arr = pa.Array.from_buffers(
        bridge, n_rows, [_vbuf(valid), pa.py_buffer(full)],
        null_count=-1 if valid is not None else 0)
    if target_type == pa.bool_():
        return arr.cast(pa.bool_())
    if kind == _KIND_INT:
        return _int_bridge_restore(arr, target_type)
    return arr.cast(target_type)


def _vbuf(valid: np.ndarray | None):
    if valid is None:
        return None
    return pa.py_buffer(np.packbits(valid, bitorder="little").tobytes())


def _raw_size(dense: pa.Array, kind: str) -> int:
    # _KIND_VAR computes raw_bytes inline on the zero-copy path and
    # never calls this
    if kind == _KIND_LIST:
        lengths, child = _list_parts(dense)
        return int(lengths.sum()) * child.type.bit_width // 8 + 8 * len(dense)
    if kind == _KIND_LISTVAR:
        _, child = _list_parts(dense)
        cdata, _ = _var_parts(child)
        return len(cdata) + 8 * len(dense)
    if kind == _KIND_DECIMAL:
        return 16 * len(dense)
    return len(dense) * 8
