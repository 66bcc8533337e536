"""Tests of the benchmark itself, at tiny sizes.

    python3 -m pytest perfbench/tests -q

The references are pinned once per session with ``perfbench/pin.py``'s
own functions, and each Spark case is one benchmark run against them in a
fresh process (about a minute apiece).
"""

from __future__ import annotations

import argparse
import copy
import json
import multiprocessing
import os
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import inputs, pin, run  # noqa: E402
from perfbench.trace import covered  # noqa: E402

TINY = {
    "crawl": dict(kind="crawl", n_urls=5_000, n_hosts=100, n_seeds=1_500, rounds=3),
    "battery": dict(kind="battery", scale=0.001),
}
SEED = 11


def _declared(kind: str) -> dict[str, str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


def _pin_child(pins_path: str) -> None:
    run.WORKLOAD_SPECS.update(TINY)
    pin.pin_seeds(sorted(TINY), [SEED], pins_path)


def _child(workload: str, trace: int, pins_path: str):
    run.WORKLOAD_SPECS[workload] = TINY[workload]
    run.PINS = pins_path
    info, result, tracer = run.run(argparse.Namespace(
        workload=workload, seed=SEED, seconds=0.0, trace=trace))
    return info, result, tracer.spans if tracer else None


def _in_fresh_process(fn, *args):
    """As the command line does it: each call starts and stops its own JVM."""
    with multiprocessing.get_context("spawn").Pool(1) as pool:
        return pool.apply(fn, args)


@pytest.fixture(scope="module")
def pins(tmp_path_factory) -> dict:
    """The tiny workloads' references at SEED, each confirmed against the
    oracles by pin.py."""
    path = tmp_path_factory.mktemp("pins") / "pins.json"
    _in_fresh_process(_pin_child, str(path))
    got = json.loads(path.read_text())
    assert set(got) == set(TINY) and all(str(SEED) in got[w] for w in TINY), got
    return got


def _run(tmp_path, workload: str, trace: int, pins: dict):
    path = tmp_path / "pins.json"
    path.write_text(json.dumps(pins))
    return _in_fresh_process(_child, workload, trace, str(path))


def _emitted(result) -> dict[str, str]:
    return {k: v["unit"] for k, v in result["metrics"].items()}


def test_covered_merges_overlaps_and_clips():
    assert covered([(0, 2), (1, 3), (5, 6)], 0, 10) == 4
    assert covered([(0, 2), (1, 3)], 1.5, 2.5) == 1
    assert covered([], 0, 1) == 0


def test_input_cache_regenerates_a_corrupted_set(tmp_path):
    calls = []

    def gen(out, n):
        calls.append(n)
        os.makedirs(out)
        with open(os.path.join(out, "t.bin"), "wb") as f:
            f.write(bytes(range(n)))

    a = inputs.cached(str(tmp_path), "k", {"n": 7}, gen)
    assert inputs.cached(str(tmp_path), "k", {"n": 7}, gen) == a and calls == [7]
    with open(os.path.join(a, "t.bin"), "ab") as f:
        f.write(b"x")
    assert inputs.cached(str(tmp_path), "k", {"n": 7}, gen) == a and calls == [7, 7]
    with open(os.path.join(a, "t.bin"), "rb") as f:
        assert f.read() == bytes(range(7))
    inputs.cached(str(tmp_path), "k", {"n": 8}, gen)
    assert calls == [7, 7, 8]


def test_a_workload_with_no_pins_is_an_error(tmp_path, monkeypatch):
    path = tmp_path / "pins.json"
    path.write_text(json.dumps({"battery": {}}))
    monkeypatch.setattr(run, "PINS", str(path))
    with pytest.raises(RuntimeError, match="no pinned references for crawl"):
        run.run(argparse.Namespace(workload="crawl", seed=SEED, seconds=0.0, trace=0))


@pytest.mark.parametrize("workload", ["crawl", "battery"])
def test_corrupted_pin_is_counted_and_every_metric_has_its_unit(tmp_path, pins, workload):
    bad = copy.deepcopy(pins)
    ref = bad[workload][str(SEED)]
    if workload == "crawl":
        ref[-1] += 1  # the last round's order digest
    else:
        ref["q1_pricing_summary"] += 1
    info, result, _ = _run(tmp_path, workload, 0, bad)
    assert _emitted(result) == _declared("end_to_end")
    assert result["failed"] == 1 and not result["correct"]
    assert info["fail_frac"] == result["failed"] / result["attempted"] > 0
    assert result["attempted"] == (1 if workload == "crawl" else 38)


def test_traced_crawl_spans_nest_and_rounds_cover_their_children(tmp_path, pins):
    info, result, spans = _run(tmp_path, "crawl", 1, pins)
    assert result["correct"], info["failures"]
    assert _emitted(result) == _declared("per_layer")
    by_id = {s.sid: s for s in spans}
    for s in spans:
        if s.parent is not None:
            p = by_id[s.parent]
            assert p.start <= s.start and s.end <= p.end, (s, p)
    (crawl,) = [s for s in spans if s.name == "frontier.run_crawl"]
    kids = [s for s in spans if s.parent == crawl.sid]
    commits = sorted(k.end for k in kids if k.name == "state.commit_round")
    bounds = [crawl.start] + commits
    assert len(commits) == TINY["crawl"]["rounds"]
    for lo, hi in zip(bounds, bounds[1:]):
        rk = [k for k in kids if lo <= k.start < hi]
        same_thread = [k for k in rk if k.thread == crawl.thread]
        assert sum(k.wall for k in same_thread) <= hi - lo
        assert covered([(k.start, k.end) for k in rk], lo, hi) <= hi - lo
    m = result["metrics"]
    assert m["frontier.jobs_per_round"]["value"] > 0
    assert m["bloom.update_calls"]["value"] == TINY["crawl"]["rounds"]
    assert m["bloom.might_contain_udf_s"]["value"] > 0


def test_traced_battery_emits_every_layer_metric(tmp_path, pins):
    info, result, _ = _run(tmp_path, "battery", 1, pins)
    assert result["correct"] and result["attempted"] == 38, info["failures"]
    assert _emitted(result) == _declared("per_layer")
    m = result["metrics"]
    assert all(m[f"battery.{leaf}_s"]["value"] > 0 for leaf in info["rows"])
    assert m["battery.scan_bytes"]["value"] > 0
