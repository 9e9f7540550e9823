"""The benchmark's own tests. Run from the repository root::

    python -m pytest perfbench/test_perfbench.py -q

The unit tests are fast. The smoke tests run each workload at tiny size
(``--smoke``: sf0.001-sized tables, a 12-cycle backfill and the minimum
number of operations) in a subprocess, as the benchmark is run; together
they take a few minutes.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
from decimal import Decimal

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import checks  # noqa: E402
import harness  # noqa: E402


def _run(*args: str, cwd: str = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"), *args],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


def _result(proc: subprocess.CompletedProcess) -> dict:
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


# ---------------------------------------------------------------------------
# Unit tests
# ---------------------------------------------------------------------------


def test_tail_keeps_ten_samples_above_it():
    st = harness.latency_stats([float(i) for i in range(1, 31)])
    assert st["tail"] == 20.0 and st["tail_pct"] == pytest.approx(66.7)
    assert st["p50"] == 15.5
    with pytest.raises(harness.BenchError):
        harness.latency_stats([1.0] * 10)


def test_digest_match_and_corrupted_reference():
    ref = {"n": 3, "c0_nn": 3, "c0_sum": Decimal(12), "c1_nn": 3,
           "c1_sum": 1.5, "c1_abs": 2.5, "c1_nan": 0}
    got = {**ref, "c1_sum": 1.5 + 1e-12}
    assert checks.digest_matches(got, ref)
    assert not checks.digest_matches({**ref, "c0_sum": Decimal(13)}, ref)
    assert not checks.digest_matches({**ref, "c1_sum": 1.6}, ref)
    assert not checks.digest_matches(got, checks.corrupt(ref))


def test_store_check_fails_on_corrupted_reference():
    docs = {"a": (1.0, "news", "X", "t"), "b": (2.0, "news", "X", "u")}
    hist = {("X", "2024-01-01"): (10.0, 5)}
    assert checks.stores_match((docs, hist), (docs, hist))
    assert not checks.stores_match((docs, hist), checks.corrupt_store((docs, hist)))
    assert not checks.stores_match(None, (docs, hist))


def test_benchmark_json_names_every_metric():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == harness.END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == harness.PER_LAYER


# ---------------------------------------------------------------------------
# Smoke tests (subprocess, tiny inputs)
# ---------------------------------------------------------------------------


@pytest.mark.parametrize("workload", ["analytics", "dashboard", "ingest"])
def test_smoke_prints_every_end_to_end_metric(workload):
    res = _result(_run("--workload", workload, "--seed", "3", "--seconds", "1",
                       "--trace", "0", "--smoke"))
    assert res["correct"] and res["failed"] == 0 and res["attempted"] > harness.TAIL_BEYOND
    assert {k: v["unit"] for k, v in res["metrics"].items()} == harness.END_TO_END
    assert all(v["value"] > 0 for v in res["metrics"].values())


@pytest.mark.parametrize("workload", ["analytics", "ingest"])
def test_smoke_traced_prints_every_layer(workload):
    res = _result(_run("--workload", workload, "--seed", "3", "--seconds", "1",
                       "--trace", "1", "--smoke"))
    assert res["correct"]
    assert {k: v["unit"] for k, v in res["metrics"].items()} == harness.PER_LAYER
    with open(os.path.join(HERE, "results", f"{workload}-seed3-trace1.json")) as f:
        detail = json.load(f)
    # the layer spans of each operation sum to its latency within 5%
    assert abs(detail["span_sum_ratio"] - 1.0) <= 0.05


@pytest.mark.parametrize("workload", ["analytics", "ingest"])
def test_corrupted_reference_fails_every_operation(workload):
    res = _result(_run("--workload", workload, "--seed", "3", "--seconds", "1",
                       "--trace", "0", "--smoke", "--corrupt-reference"))
    assert not res["correct"]
    assert res["failed"] == res["attempted"] > 0


def test_refuses_to_run_without_the_package(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("_work", "results", "__pycache__"))
    proc = _run("--workload", "analytics", "--seed", "1", "--seconds", "1",
                "--trace", "0", cwd=str(tmp_path))
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout
