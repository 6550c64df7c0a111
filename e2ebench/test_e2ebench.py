"""Tests of the benchmark's own code. The end-to-end cases run the real
command on the small "smoke" corpus, one Spark process each (about a
minute or two apiece):

    python3 -m pytest e2ebench -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

from e2ebench import harness

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)


def _run(*args, cwd=ROOT) -> tuple[int, str]:
    proc = subprocess.run(
        [sys.executable, "e2ebench/run.py", "--seed", "7", "--seconds", "1",
         "--scale", "smoke", *args],
        cwd=cwd, capture_output=True, text=True, timeout=600)
    return proc.returncode, proc.stdout


def _result(*args) -> dict:
    code, out = _run(*args)
    assert code == 0
    return json.loads(out.strip().splitlines()[-1])


def _units(metrics: list[dict]) -> dict[str, str]:
    return {m["name"]: m["unit"] for m in metrics}


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_prints_every_end_to_end_metric(workload):
    res = _result("--workload", workload, "--trace", "0")
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
    assert {k: v["unit"] for k, v in res["metrics"].items()} == \
        _units(SPEC["end_to_end"])
    assert all(v["value"] > 0 for v in res["metrics"].values())


def test_traced_run_prints_every_layer_metric():
    res = _result("--workload", "index", "--trace", "1")
    assert res["correct"]
    assert {k: v["unit"] for k, v in res["metrics"].items()} == \
        _units(SPEC["per_layer"])
    assert res["metrics"]["py4j.calls"]["value"] > 0
    assert res["metrics"]["spark.jobs"]["value"] > 0


def test_wrong_lane_output_counts_as_failed():
    res = _result("--workload", "batch", "--inject", "wrong_lane")
    # the injected lane is wrong in every timed pass
    assert not res["correct"]
    assert res["failed"] >= 1 and res["failed"] < res["attempted"]


def test_failed_phase_counts_as_failed():
    res = _result("--workload", "index", "--inject", "failed_phase")
    assert not res["correct"]
    # the failing phase ends its family's cycle: all six phases count
    assert res["failed"] == 6


def test_failed_request_counts_as_failed():
    res = _result("--workload", "index", "--inject", "failed_request")
    assert not res["correct"]
    # one serving request of the timed leg times out; the rest are good
    assert res["failed"] == 1


def test_exits_nonzero_without_the_package(tmp_path):
    shutil.copytree(os.path.join(ROOT, "e2ebench"), tmp_path / "e2ebench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    code, out = _run("--workload", "batch", cwd=tmp_path)
    assert code != 0 and out == ""


def test_union_and_self_time():
    assert harness._union([(0, 2), (1, 3), (5, 6)]) == 4
    tr = harness.Tracer()
    with tr.span("outer"):
        with tr.span("inner"):
            pass
    tr.self_times()
    outer, inner = tr.spans
    assert inner["parent"] == outer["id"]
    assert outer["self_s"] == pytest.approx(outer["s"] - inner["s"])
