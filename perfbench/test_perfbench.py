"""Self-tests of the benchmark.

    python -m pytest perfbench/test_perfbench.py -q

The first tests need no Spark. The smoke tests run each workload at a
tiny scale (sf0.001 fixture, 2k-row tables, 2 cycles or passes) through
the command line, once clean and once with a deliberately corrupted
result. They take a few minutes, so they are marked ``slow`` and run
only with ``-m slow``.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

import numpy as np
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import common, nrt_ingest, run, trace  # noqa: E402


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_metric_names_match_benchmark_json():
    spec = _spec()
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == trace.per_layer_names()
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)


def test_cdc_batch_shape_and_model():
    rng = np.random.default_rng(7)
    m = nrt_ingest.EntityModel(1000, 2000, salt=3)
    before = m.cents.copy()
    keys, cents, ops = nrt_ingest.make_batch(rng, m, 100)
    assert len(set(keys.tolist())) == len(keys) == 100
    assert ops.count("D") == 10 and ops.count("U") == 40 and ops.count("I") == 50
    recent = 1000 - max(4 * 100, 1000 // 10)
    assert sum(k >= recent for k, op in zip(keys, ops) if op == "U") >= 30
    for k, c, op in zip(keys, cents, ops):
        assert (m.cents[k] == -1) if op == "D" else (m.cents[k] == c)
        assert (before[k] >= 0) == (op != "I")
    again = nrt_ingest.make_batch(np.random.default_rng(7),
                                  nrt_ingest.EntityModel(1000, 2000, salt=3), 100)
    assert again[0].tolist() == keys.tolist()  # same seed, same batch


def test_unstolen_scales_wall_time_by_busy_share(monkeypatch):
    # /proc/stat fields: user nice system idle iowait irq softirq steal
    ticks = iter([[100, 0, 20, 500, 0, 0, 0, 10],
                  [160, 0, 40, 600, 0, 0, 0, 30]])  # busy +80, steal +20
    monkeypatch.setattr(common, "cpu_times", lambda: next(ticks))
    clock = common.Clock()
    monkeypatch.setattr(clock, "lap", lambda: 2.0)
    assert clock.unstolen() == 2.0 * 80 / 100


def test_self_time_and_pool_thread_parent():
    from concurrent.futures import ThreadPoolExecutor

    tr = trace.Tracer()

    def child(_):
        with tr.span("child"):
            time.sleep(0.05)

    with tr.span("outer", inheritable=True) as outer:
        with ThreadPoolExecutor(2) as pool:
            list(pool.map(child, range(2)))
        time.sleep(0.02)
    kids = [s for s in tr.spans if s["name"] == "child"]
    assert len(kids) == 2 and all(k["parent"] == outer["id"] for k in kids)
    assert outer["parent"] is None
    self_t = tr.self_times()[outer["id"]]
    dur = outer["end"] - outer["start"]
    assert 0.015 <= self_t < dur - 0.045  # overlapping children count once


def _cli(workload: str, *extra: str) -> tuple[dict, str]:
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "3",
         "--seconds", "1", "--scale", "tiny", *extra],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert p.returncode == 0, p.stderr[-3000:]
    return json.loads(p.stdout.strip().splitlines()[-1]), p.stdout


def _printed(stdout: str) -> dict[str, str]:
    out = {}
    for line in stdout.splitlines():
        if line.startswith("metric "):
            _, name, _value, unit, *_ = line.split()
            out[name] = unit
    return out


@pytest.mark.slow
@pytest.mark.parametrize("workload", run.WORKLOADS)
def test_smoke_prints_every_metric_and_passes_gates(workload):
    res, stdout = _cli(workload, "--trace", "0")
    assert res["correct"] and res["failed"] == 0 and res["attempted"] > 0
    assert {k: v["unit"] for k, v in res["metrics"].items()} == run.END_TO_END
    assert all(v["value"] > 0 for v in res["metrics"].values())
    printed = _printed(stdout)
    assert all(printed[k] == u for k, u in run.END_TO_END.items())
    assert printed["ops_failed_ratio"] == "ratio"


@pytest.mark.slow
@pytest.mark.parametrize("workload,corrupt", [("nrt_ingest", "silver_row"),
                                              ("query_mix", "query_result")])
def test_smoke_traced_gate_trips_on_corrupted_result(workload, corrupt):
    res, stdout = _cli(workload, "--trace", "1", "--corrupt", corrupt)
    assert not res["correct"] and res["failed"] >= 1
    assert {k: v["unit"] for k, v in res["metrics"].items()} == trace.per_layer_names()
    assert "# spans written to" in stdout
