"""In-memory span recorder for the benchmark's traced runs.

A span is one timed call into a layer: name, start, end, the span that
was open when it began (its parent) and the run id.  Spans stay in memory
and are written as JSON once, when the run ends.  A span's layer is the
part of its name before the first dot (``engine.encode_table`` belongs to
``engine``); ``codecs.<x>`` spans keep two parts so each codec is its own
row.  Self time is a span's duration minus the time its child spans cover.

With ``enabled=False`` every ``span`` call is a no-op context, so the
untraced runs that produce the end-to-end metrics pay nothing for it.
"""

from __future__ import annotations

import contextlib
import json
import time


def layer_of(name: str) -> str:
    parts = name.split(".")
    if parts[0] == "codecs" and len(parts) > 2:
        return ".".join(parts[:2])
    return parts[0]


class Tracer:
    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "run": self.run_id,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None}
        if attrs:
            rec["attrs"] = attrs
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def self_times(self) -> dict[str, float]:
        """Seconds of self time per layer, over every closed span."""
        child_s: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                child_s[s["parent"]] = child_s.get(s["parent"], 0.0) \
                    + s["end"] - s["start"]
        out: dict[str, float] = {}
        for s in self.spans:
            if s["end"] is None:
                continue
            own = s["end"] - s["start"] - child_s.get(s["id"], 0.0)
            lay = layer_of(s["name"])
            out[lay] = out.get(lay, 0.0) + max(own, 0.0)
        return out

    def dump(self, path: str, extra: dict) -> None:
        doc = dict(extra)
        doc["run_id"] = self.run_id
        doc["spans"] = self.spans
        doc["self_s"] = self.self_times()
        with open(path, "w") as f:
            json.dump(doc, f, indent=1)


def span_cost_s(n: int = 20000) -> float:
    """Measured cost of recording one (empty) span, in seconds."""
    t = Tracer("calibrate", True)
    t0 = time.perf_counter()
    for _ in range(n):
        with t.span("x"):
            pass
    return (time.perf_counter() - t0) / n
