"""Shared helpers for the bench runners.

One definition each of the logical-size expression, the
last-JSON-line stdout extraction, and the scaling_results.json
read-merge-write (round-5 review finding: three hand-synced copies had
already diverged — one dropped the corrupt-previous-write guard, so a
truncated JSON from an interrupted run crashed the NEXT run after its
entire expensive measurement completed)."""

from __future__ import annotations

import json
import os


def logical_bytes_of(pages) -> int:
    """Logical (uncompressed, null-aware) byte size of a pages frame —
    the denominator of every GB/s figure the benches report; must be
    identical across bench.py and scaling.py or their throughputs stop
    being comparable."""
    from pyspark.sql import functions as F
    return int(pages.select(
        (F.octet_length("url") + F.octet_length("text")
         + F.octet_length("lang")
         + F.coalesce(F.octet_length("html"), F.lit(0))
         + F.lit(8)).alias("b")).agg(F.sum("b")).collect()[0][0])


def last_json_line(stdout: str) -> dict:
    """The final JSON object line of a child bench invocation's stdout."""
    line = [ln for ln in stdout.strip().splitlines()
            if ln.startswith("{")][-1]
    return json.loads(line)


def merge_results(path: str, updates: dict) -> dict:
    """Read-merge-write ``scaling_results.json``: other runners' keys
    survive, a corrupt/truncated previous file is treated as empty
    instead of crashing, and the write is atomic (tmp + replace)."""
    data = {}
    if os.path.exists(path):
        try:
            with open(path) as f:
                data = json.load(f)
        except Exception:
            data = {}
    data.update(updates)
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(data, f, indent=1)
    os.replace(tmp, path)
    return data
