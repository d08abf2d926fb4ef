"""Fast self-test of the benchmark at scale 0.001 with a tiny schedule.

    python -m pytest perfbench -q

It checks that every metric named in BENCHMARK.json is emitted with its
unit and sign for every workload, that a corrupted fingerprint fails the
run, that spans nest, and that each batch query's build, plan and action
spans cover its wall time.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import run  # noqa: E402

WORKLOADS = run.WORKLOADS


def bench(workload: str, trace: int, *extra: str) -> tuple[int, dict, dict]:
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", "3",
         "--seconds", "1", "--trace", str(trace), "--sf", "0.001", *extra],
        capture_output=True, text=True, timeout=600,
    )
    lines = proc.stdout.strip().splitlines()
    assert len(lines) >= 2, proc.stderr[-3000:]
    return proc.returncode, json.loads(lines[-1]), json.loads(lines[-2])["perfbench"]


@pytest.fixture(scope="module")
def spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


@pytest.fixture(scope="module")
def runs() -> dict:
    return {(w, t): bench(w, t) for w in WORKLOADS for t in (0, 1)}


def test_spec_matches_harness(spec):
    assert {w["name"] for w in spec["workloads"]} <= set(WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER


@pytest.mark.parametrize("workload", WORKLOADS)
def test_every_metric_present_with_unit_and_sign(spec, runs, workload):
    for trace, section in ((0, "end_to_end"), (1, "per_layer")):
        code, line, stamp = runs[(workload, trace)]
        assert code == 0 and line["correct"] and line["failed"] == 0, stamp["mismatches"]
        assert line["attempted"] >= 1
        metrics = line["metrics"]
        assert set(metrics) == {m["name"] for m in spec[section]}
        for m in spec[section]:
            value = metrics[m["name"]]["value"]
            assert metrics[m["name"]]["unit"] == m["unit"]
            assert value > 0 if section == "end_to_end" else value >= 0, (m["name"], value)


def test_corrupted_fingerprint_fails(tmp_path):
    with open(os.path.join(HERE, "expected.json")) as f:
        expected = json.load(f)
    expected["batch"]["0.001"]["risk_join"][1] += 1
    path = tmp_path / "expected.json"
    path.write_text(json.dumps(expected))
    code, line, stamp = bench("batch_sql", 0, "--expected", str(path))
    assert code != 0
    assert not line["correct"] and line["failed"] >= 1
    assert "risk_join" in stamp["mismatches"]


@pytest.mark.parametrize("workload", ["batch_sql", "batch_curation"])
def test_spans_nest_and_cover_each_query(runs, workload):
    _, _, stamp = runs[(workload, 1)]
    with open(os.path.join(ROOT, stamp["trace_file"])) as f:
        spans = json.load(f)["spans"]
    by_id = {s["id"]: s for s in spans}
    for s in spans:
        assert s["start"] <= s["end"]
        if s["parent"] is not None:
            p = by_id[s["parent"]]
            assert p["start"] <= s["start"] and s["end"] <= p["end"], (s, p)
    queries = [s for s in spans if s["name"] == "query"]
    assert queries
    for q in queries:
        parts = [s for s in spans if s["parent"] == q["id"]]
        assert sorted(p["name"] for p in parts) == ["catalyst.plan", "exec.action", "registry.build"]
        covered = sum(p["end"] - p["start"] for p in parts)
        assert covered >= 0.9 * (q["end"] - q["start"]), q


@pytest.mark.parametrize("workload", ["batch_sql", "batch_curation"])
def test_layer_times_account_for_pass_time(runs, workload):
    _, line, stamp = runs[(workload, 1)]
    with open(os.path.join(ROOT, stamp["trace_file"])) as f:
        spans = json.load(f)["spans"]
    passes = [s["end"] - s["start"] for s in spans if s["name"] == "pass" and s["index"] >= 0]
    layers = sum(
        line["metrics"][m]["value"] for m in ("registry.build_s", "catalyst.plan_s", "exec.action_s")
    )
    mean_pass = sum(passes) / len(passes)
    assert abs(layers - mean_pass) <= 0.1 * mean_pass, (layers, mean_pass)
