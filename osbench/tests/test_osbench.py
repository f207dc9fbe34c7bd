"""The benchmark's own tests, on tiny inputs.

    python3 -m pytest osbench/tests -q

Each test runs ``osbench/run.py`` the way its command line is used, from the
repository root, with ``--size tiny``.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.join(ROOT, "osbench"))

from meter import LAYER_METRICS, Tracer  # noqa: E402

WORKLOADS = ("dashboard", "corpus")


def _bench() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _run(workload: str, *extra: str, cwd: str = ROOT, seed: int = 1) -> tuple[int, list[str]]:
    cmd = [sys.executable, "osbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", "1", "--size", "tiny", *extra]
    r = subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600)
    return r.returncode, r.stdout.strip().splitlines()


def _result(lines: list[str]) -> tuple[dict, dict]:
    return json.loads(lines[-1]), json.loads(lines[-2][len("record "):])


@pytest.mark.parametrize("workload", WORKLOADS)
def test_workload_runs_end_to_end(workload):
    rc, lines = _run(workload, "--trace", "0")
    assert rc == 0
    res, rec = _result(lines)
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1, rec.get("errors")
    want = {m["name"]: m["unit"] for m in _bench()["end_to_end"]}
    assert {k: v["unit"] for k, v in res["metrics"].items()} == want
    assert all(v["value"] > 0 for v in res["metrics"].values())
    assert rec["source_digest"] and rec["calibration_s"] > 0


@pytest.mark.parametrize("workload", WORKLOADS)
def test_fault_injection_fails_the_run(workload):
    rc, lines = _run(workload, "--fault", "1")
    assert rc == 0
    res, _ = _result(lines)
    assert res["correct"] is False and res["failed"] >= 1


@pytest.mark.parametrize("workload", WORKLOADS)
def test_traced_run_prints_every_layer_and_repeats_plan_shape(workload):
    shapes = []
    for _ in range(2):
        rc, lines = _run(workload, "--trace", "1")
        assert rc == 0
        res, rec = _result(lines)
        assert res["correct"], rec.get("errors")
        assert set(res["metrics"]) == {m["name"] for m in _bench()["per_layer"]}
        assert rec["spans"]["nested"], "a child span escapes its parent"
        assert "ratio" in rec["trace_overhead"]
        shapes.append({k: v["value"] for k, v in res["metrics"].items() if k.startswith("plan.")})
        if workload == "dashboard":  # the write side feeds the streaming layer
            assert res["metrics"]["streaming.trigger_ms"]["value"] > 0
            assert res["metrics"]["streaming.rows_per_batch"]["value"] > 0
    assert shapes[0] == shapes[1]


def test_per_layer_list_matches_the_meter():
    bench = _bench()
    assert [m["name"] for m in bench["per_layer"]] == list(LAYER_METRICS)
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == LAYER_METRICS
    assert [w["name"] for w in bench["workloads"]] == list(WORKLOADS)


def test_spans_nest_and_self_time_excludes_children():
    tr = Tracer()
    with tr.span("request", "r1"):
        with tr.span("operators.build"):
            with tr.span("osl.compile"):
                pass
        with tr.span("exec.action"):
            pass
    assert tr.nested()
    by = {s["name"]: s for s in tr.spans}
    assert by["osl.compile"]["parent"] == by["operators.build"]["id"]
    assert all(s["req"] == "r1" for s in tr.spans)
    self_s = tr.self_time_s()
    req = by["request"]
    assert self_s["request"] <= req["end"] - req["start"]
    assert abs(sum(self_s.values()) - (req["end"] - req["start"])) < 1e-9


def test_outside_a_checkout_it_fails_without_a_result(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "osbench"), tmp_path / "osbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    rc, lines = _run("dashboard", cwd=str(tmp_path))
    assert rc != 0
    assert not any(line.startswith("{") for line in lines)
