"""Per-layer measurements for the traced run.

Every figure here is taken from outside the program, by timing calls into
a layer's public functions: the store's manifest rows (``read_manifest``),
a replay of the chunk, selector, codec, bloom and fs functions on a seeded
sample of the store's chunk files, no-op ``mapInArrow`` floors over the
encode prep plans, and the DataSource reader's planning methods.
"""

from __future__ import annotations

import json
import os
import time

import numpy as np
import pyarrow as pa

from dumpster import fs as dfs
from dumpster.bloom import bloom_build, bloom_rejects_file
from dumpster.chunk import decode_chunk_file, encode_chunk_pieces
from dumpster.codecs import CODEC_NAMES, stable_seed
from dumpster.codecs import bss, dictionary, forpack, fsst, plain, rle
from dumpster.codecs.selector import (ZSTD_LEVEL, select_encode_fixed,
                                      select_encode_var)

# codec name (as stored in col_stats) -> (module, var codec, fixed codec);
# each entry is the codec's public (encode, decode) pair
CODEC_FUNCS = {
    "plain": ("plain",
              (plain.encode_plain_var, plain.decode_plain_var),
              (plain.encode_plain_fixed, plain.decode_plain_fixed)),
    "dict": ("dictionary",
             (dictionary.encode_dict_var, dictionary.decode_dict_var),
             (dictionary.encode_dict_fixed, dictionary.decode_dict_fixed)),
    "rle": ("rle", (rle.encode_rle_var, rle.decode_rle_var),
            (rle.encode_rle_fixed, rle.decode_rle_fixed)),
    "for": ("forpack", None, (forpack.encode_for, forpack.decode_for)),
    "delta_for": ("forpack", None,
                  (forpack.encode_delta_for, forpack.decode_delta_for)),
    "fsst": ("fsst", (fsst.encode_fsst_var, fsst.decode_fsst_var), None),
    "bss": ("bss", None, (bss.encode_bss_fixed, bss.decode_bss_fixed)),
}
CODEC_MODULES = ("fsst", "dictionary", "rle", "forpack", "bss", "plain")
SAMPLE_CHUNKS = 4
_MB = 1e6


def _joined(payload) -> bytes:
    if isinstance(payload, list):
        return b"".join(bytes(p) for p in payload)
    return bytes(payload)


def column_parts(arr: pa.Array):
    """('var', data, offsets) or ('fixed', values) over the non-null
    values, in the shapes the codec layer takes."""
    dense = arr.drop_null() if arr.null_count else arr
    t = dense.type
    if pa.types.is_string(t) or pa.types.is_binary(t):
        bufs = dense.buffers()
        offs = np.frombuffer(bufs[1], dtype=np.int32)[
            dense.offset:dense.offset + len(dense) + 1].astype(np.int64)
        data = bytes(memoryview(bufs[2])[offs[0]:offs[-1]]) \
            if bufs[2] is not None else b""
        return "var", data, offs - offs[0]
    if pa.types.is_timestamp(t) or pa.types.is_integer(t):
        return "fixed", np.asarray(dense.cast(pa.int64()))
    return "fixed", np.asarray(dense)


def _raw_bytes(kind: str, args) -> int:
    # the chunk layer's raw_bytes: var values plus an 8-byte offset each
    if kind == "var":
        return len(args[0]) + 8 * (len(args[1]) - 1)
    return args[0].nbytes


def _bits(vals: np.ndarray) -> np.ndarray:
    # the selector encodes floats as their int64 bit pattern
    return vals.view(np.int64) if vals.dtype == np.float64 else vals


def _timed(fn, *args):
    t0 = time.perf_counter()
    out = fn(*args)
    return out, time.perf_counter() - t0


def manifest_metrics(rows: list) -> dict:
    enc_ms = np.array([r["encode_ms"] for r in rows], dtype=float)
    by_part: dict[int, float] = {}
    for r in rows:
        by_part[r["partition_id"]] = by_part.get(r["partition_id"], 0.0) \
            + r["encode_ms"]
    sums = np.array(list(by_part.values()), dtype=float)
    winners = {name: 0 for name in CODEC_NAMES.values()}
    for r in rows:
        for cs in json.loads(r["col_stats"]):
            winners[cs["codec"]] = winners.get(cs["codec"], 0) + 1
    out = {"engine.chunks": len(rows),
           "engine.chunk_encode_ms_p50": float(np.percentile(enc_ms, 50)),
           "engine.chunk_encode_ms_p99": float(np.percentile(enc_ms, 99)),
           "engine.task_skew": float(sums.max() / np.median(sums))}
    for name, n in winners.items():
        out[f"codecs.selector.winner_count.{name}"] = n
    return out


class _Acc:
    """Sums of seconds and bytes, keyed by metric family."""

    def __init__(self):
        self.s: dict[str, float] = {}
        self.b: dict[str, float] = {}

    def add(self, key: str, sec: float, nbytes: float) -> None:
        self.s[key] = self.s.get(key, 0.0) + sec
        self.b[key] = self.b.get(key, 0.0) + nbytes

    def per(self, key: str, scale: float) -> float | None:
        if not self.b.get(key):
            return None
        return self.s[key] * scale / self.b[key]


def replay_chunks(rows: list, wl, seed: int, tr, workdir: str) -> dict:
    """Replay the chunk, selector, codec, bloom and fs layers on a seeded
    sample of the store's chunk files.  Raises if re-encoding a decoded
    chunk does not reproduce its bytes, or if a bloom rejects a value the
    chunk holds."""
    rng = np.random.default_rng(seed + 7)
    pick = sorted(rng.choice(len(rows), size=min(SAMPLE_CHUNKS, len(rows)),
                             replace=False).tolist())
    acc = _Acc()
    won_bytes = {m: 0 for m in CODEC_MODULES}
    won_any = {m: False for m in CODEC_MODULES}
    kept = attempted = 0
    trial = {"var": [0.0, 0.0], "fixed": [0.0, 0.0]}
    pruned_read = pruned_size = 0
    bloom_probes = bloom_rejects = 0
    fallback_cols: list = []
    os.makedirs(workdir, exist_ok=True)
    zstd = pa.Codec("zstd", compression_level=ZSTD_LEVEL)
    for k, i in enumerate(pick):
        r = rows[i]
        path, raw = r["file"], r["raw_bytes"]
        table_id = os.path.basename(os.path.dirname(os.path.dirname(path)))
        with tr.span("chunk.decode_chunk_file"):
            batch, sec = _timed(decode_chunk_file, path)
        acc.add("chunk.decode", sec, raw)
        br: list = []
        with tr.span("chunk.decode_chunk_file", columns=wl.narrow_col):
            decode_chunk_file(path, [wl.narrow_col], bytes_read=br)
        pruned_read += sum(br)
        pruned_size += os.path.getsize(path)
        with tr.span("chunk.encode_chunk_pieces"):
            (pieces, _), enc_sec = _timed(
                lambda: encode_chunk_pieces(batch, table_id=table_id,
                                            bucket=r["bucket"],
                                            chunk_seq=r["chunk_seq"]))
        if sum(len(p) for p in pieces) != r["encoded_bytes"]:
            raise RuntimeError(f"re-encoding {path} did not reproduce "
                               f"its {r['encoded_bytes']} bytes")
        sel_sec = 0.0
        for name, col in zip(batch.schema.names, batch.columns):
            parts = column_parts(col)
            kind = parts[0]
            if len(parts[-1]) <= (kind == "var"):
                continue    # no non-null values: nothing to select
            nbytes = _raw_bytes(kind, parts[1:])
            cseed = stable_seed(table_id, r["bucket"], r["chunk_seq"], name)
            select = select_encode_var if kind == "var" \
                else select_encode_fixed
            with tr.span(f"codecs.selector.select_encode_{kind}"):
                (cid, zl, _, _, _), sec = _timed(select, *parts[1:], cseed)
            sel_sec += sec
            acc.add(f"select.{kind}", sec, nbytes)
            cname = CODEC_NAMES[cid]
            module, var_f, fixed_f = CODEC_FUNCS[cname]
            enc, dec = var_f if kind == "var" else fixed_f
            args = parts[1:] if kind == "var" else (_bits(parts[1]),)
            with tr.span(f"codecs.{module}.encode"):
                (payload, meta), e_sec = _timed(enc, *args)
            flat = _joined(payload)
            n = len(parts[2]) - 1 if kind == "var" else len(parts[1])
            with tr.span(f"codecs.{module}.decode"):
                _, d_sec = _timed(dec, flat, meta, n)
            acc.add(f"{module}.enc", e_sec, nbytes)
            acc.add(f"{module}.dec", d_sec, nbytes)
            won_bytes[module] += nbytes
            won_any[module] = True
            z_sec = 0.0
            if len(flat) >= 64:
                attempted += 1
                kept += bool(zl)
                with tr.span("codecs.selector.byte_stage"):
                    z, z_sec = _timed(zstd.compress, flat)
                acc.add("zstd.enc", z_sec, len(flat))
                with tr.span("codecs.selector.zstd_decode"):
                    _, zd_sec = _timed(zstd.decompress, z, len(flat))
                acc.add("zstd.dec", zd_sec, len(flat))
            trial[kind][0] += max(sec - e_sec - z_sec, 0.0)
            trial[kind][1] += sec
            fallback_cols.append((kind, args))
            # timed whether or not the engine built a bloom for this
            # chunk (it skips chunks under bloom.MIN_ROWS rows)
            if name == wl.bloom_col:
                with tr.span("bloom.bloom_build"):
                    _, b_sec = _timed(bloom_build, parts[1], parts[2])
                acc.add("bloom.build", b_sec, 1)
                present = col.drop_null()[0].as_py()
                present = present.encode() if isinstance(present, str) \
                    else present
                for value, absent in ((wl.absent_value, True),
                                      (present, False)):
                    with tr.span("bloom.bloom_rejects_file"):
                        rej, p_sec = _timed(bloom_rejects_file, path,
                                            [(name, frozenset({value}))])
                    acc.add("bloom.probe", p_sec, 1)
                    if absent:
                        bloom_probes += 1
                        bloom_rejects += bool(rej)
                    elif rej:
                        raise RuntimeError(f"bloom of {path} rejected a "
                                           f"value the chunk holds")
        acc.add("chunk.encode_self", max(enc_sec - sel_sec, 0.0), raw)
        target = os.path.join(workdir, f"put{k}.dmc")
        with tr.span("fs.put"):
            _, p_sec = _timed(dfs.DEFAULT_FS.put, target, pieces)
        acc.add("fs.put", p_sec, sum(len(p) for p in pieces))
        os.remove(target)
    # a codec that won no sampled column is timed on every sampled column
    # of a kind it accepts, so its figures exist on every workload
    for cname, (module, var_f, fixed_f) in CODEC_FUNCS.items():
        if won_any[module]:
            continue
        for kind, args in fallback_cols:
            pair = var_f if kind == "var" else fixed_f
            if pair is None:
                continue
            nbytes = _raw_bytes(kind, args)
            try:
                with tr.span(f"codecs.{module}.encode"):
                    (payload, meta), e_sec = _timed(pair[0], *args)
            except ValueError:
                continue    # e.g. fsst declines a column: not timed
            n = len(args[1]) - 1 if kind == "var" else len(args[0])
            with tr.span(f"codecs.{module}.decode"):
                _, d_sec = _timed(pair[1], _joined(payload), meta, n)
            acc.add(f"{module}.enc", e_sec, nbytes)
            acc.add(f"{module}.dec", d_sec, nbytes)
    out = {
        "chunk.encode_self_ms_per_mb": acc.per("chunk.encode_self", 1e3 * _MB),
        "chunk.decode_ms_per_mb": acc.per("chunk.decode", 1e3 * _MB),
        "chunk.pruned_bytes_read_frac": pruned_read / max(pruned_size, 1),
        "codecs.selector.byte_stage_ms_per_mb": acc.per("zstd.enc", 1e3 * _MB),
        "codecs.selector.byte_stage_kept_frac": kept / max(attempted, 1),
        "codecs.selector.zstd_decode_ms_per_mb": acc.per("zstd.dec",
                                                          1e3 * _MB),
        "bloom.build_ms_per_chunk": acc.per("bloom.build", 1e3),
        "bloom.probe_ms_per_file": acc.per("bloom.probe", 1e3),
        "bloom.reject_frac": bloom_rejects / max(bloom_probes, 1),
        "fs.put_ms_per_mb": acc.per("fs.put", 1e3 * _MB),
    }
    for kind in ("var", "fixed"):
        out[f"codecs.selector.select_ms_per_mb.{kind}"] = \
            acc.per(f"select.{kind}", 1e3 * _MB)
        out[f"codecs.selector.trial_share.{kind}"] = \
            trial[kind][0] / trial[kind][1] if trial[kind][1] else None
    for m in CODEC_MODULES:
        out[f"codecs.{m}.encode_ns_per_byte"] = acc.per(f"{m}.enc", 1e9)
        out[f"codecs.{m}.decode_ns_per_byte"] = acc.per(f"{m}.dec", 1e9)
        out[f"codecs.{m}.bytes_in"] = won_bytes[m]
    return out


def _drain(batches):
    for _ in batches:
        pass
    yield from ()


def pipeline_floors(df, url_col: str, tr) -> dict:
    """No-op ``mapInArrow`` over the plain scan and over both encode prep
    plans: what crossing into Python costs before any codec runs."""
    from dumpster.pipeline import prep_for_encode, prep_for_encode_local
    out = {}
    plans = (("scan", lambda: df),
             ("salted", lambda: prep_for_encode(df, url_col, n_buckets=32)),
             ("local", lambda: prep_for_encode_local(df, url_col)))
    for label, plan in plans:
        with tr.span(f"pipeline.{label}_floor"):
            t0 = time.perf_counter()
            plan().mapInArrow(_drain, "x int").count()
            out[f"pipeline.{label}_floor_s"] = time.perf_counter() - t0
    return out


def datasource_plans(store: str, filter_sets: list, tr) -> dict:
    """Time the DataSource reader's own planning (``pushFilters`` then
    ``partitions``) for each query shape, and count the chunk files each
    plan keeps."""
    from dumpster.datasource import DumpsterDataSource
    src = DumpsterDataSource({"path": store})
    schema = src.schema()
    total = sum(len(p.files) for p in src.reader(schema).partitions())
    plan_s, kept = [], 0
    for filters in filter_sets:
        with tr.span("datasource.plan"):
            t0 = time.perf_counter()
            reader = src.reader(schema)
            list(reader.pushFilters(filters))
            parts = reader.partitions()
            plan_s.append(time.perf_counter() - t0)
        kept += sum(len(p.files) for p in parts)
    return {"datasource.plan_ms": float(np.median(plan_s)) * 1e3,
            "datasource.files_considered": total,
            "datasource.files_kept_frac":
                kept / max(total * len(filter_sets), 1)}


def io_trace_frac(trace_dir: str) -> float | None:
    read = size = 0
    for f in os.listdir(trace_dir):
        with open(os.path.join(trace_dir, f)) as fh:
            for line in fh:
                a, b = line.split()
                read += int(a)
                size += int(b)
    return read / size if size else None
