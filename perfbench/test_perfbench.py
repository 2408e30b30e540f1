"""Self-checks of the benchmark itself.

    python -m pytest perfbench/ -q

The two end-to-end checks start Spark several times and take a few
minutes; the rest are instant.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench.run import tail  # noqa: E402
from perfbench.spans import Tracer  # noqa: E402

TINY_ROWS = {"pages": 3000, "tabular": 40000}


def _spec() -> dict:
    with open(os.path.join(HERE, "metrics.json")) as f:
        return json.load(f)


def _run(*args: str) -> tuple[int, str, dict]:
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"),
                        "--seconds", "1", *args],
                       cwd=ROOT, capture_output=True, text=True, timeout=600)
    last = p.stdout.strip().splitlines()[-1]
    return p.returncode, p.stdout, json.loads(last)


def test_benchmark_json_matches_metric_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    spec = _spec()
    for key in ("end_to_end", "per_layer"):
        assert [(m["name"], m["unit"], m["better"]) for m in bench[key]] \
            == [(m["name"], m["unit"], m["better"]) for m in spec[key]]
    assert [m["bound"] for m in bench["end_to_end"]] \
        == [m["bound"] for m in spec["end_to_end"]]
    assert all(m["moves"] and m["workload"] for m in spec["per_layer"])
    setup = [m for m in bench["end_to_end"] if m["name"] == "setup_s"][0]
    assert setup["bound"] == max(m["bound"] for m in bench["end_to_end"])


def test_self_time_subtracts_children():
    tr = Tracer("t", True)
    with tr.span("engine.encode_table"):
        with tr.span("codecs.fsst.encode"):
            pass
    tr.spans[0]["start"], tr.spans[0]["end"] = 0.0, 10.0
    tr.spans[1]["start"], tr.spans[1]["end"] = 2.0, 5.0
    assert tr.spans[1]["parent"] == 0
    assert tr.self_times() == {"engine": 7.0, "codecs.fsst": 3.0}


def test_disabled_tracer_records_nothing():
    tr = Tracer("t", False)
    with tr.span("engine.x"):
        pass
    assert tr.spans == []


def test_tail_needs_ten_samples_beyond():
    val, label = tail([float(i) for i in range(100)])
    assert val == 89.0 and label.startswith("p90")
    val, label = tail([1.0, 2.0, 3.0])
    assert val == 3.0 and label.startswith("max")


@pytest.mark.parametrize("workload", ["pages", "tabular"])
@pytest.mark.parametrize("trace", ["0", "1"])
def test_tiny_run_prints_every_metric(workload, trace):
    rc, out, res = _run("--workload", workload, "--seed", "5",
                        "--trace", trace,
                        "--rows", str(TINY_ROWS[workload]))
    assert rc == 0, out
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] and res["failed"] == 0 and res["attempted"] > 0
    key = "per_layer" if trace == "1" else "end_to_end"
    want = {m["name"]: m["unit"] for m in _spec()[key]}
    assert set(res["metrics"]) == set(want)
    for name, m in res["metrics"].items():
        assert m["unit"] == want[name]
        assert isinstance(m["value"], (int, float)), (name, m)
    for name, unit in want.items():
        if trace == "0":
            assert f"  {name} " in out and out.count(unit) > 0


def test_flipped_byte_is_an_error_not_a_throughput():
    rc, out, res = _run("--workload", "pages", "--seed", "6", "--trace", "0",
                        "--rows", str(TINY_ROWS["pages"]), "--corrupt")
    assert rc != 0
    assert not res["correct"] and res["failed"] > 0
    rate = [ln for ln in out.splitlines() if "error_rate" in ln][0]
    assert float(rate.split()[1]) > 0
