"""Tiny-size end-to-end runs of the benchmark's own command: every
workload's passes and output checks, the traced mode, and the refusal to
run without the engine."""

import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _run(cwd, *args, timeout=600):
    # no inherited PYTHONPATH: the engine must come from ``cwd`` alone
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args], cwd=cwd, env=env,
        capture_output=True, text=True, timeout=timeout,
    )


def _result(proc):
    return json.loads(proc.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", ["pit_encode", "parity_w144", "curate_tokens", "stream_ingest"])
def test_tiny_workload_passes_its_checks(workload):
    proc = _run(ROOT, "--workload", workload, "--seed", "3", "--seconds", "1",
                "--trace", "0", "--scale", "tiny")
    assert proc.returncode == 0, proc.stdout + proc.stderr[-3000:]
    res = _result(proc)
    assert res["correct"] is True and res["failed"] == 0 and res["attempted"] >= 3
    assert set(res["metrics"]) == {"setup_s", "wall_s", "items_per_s"}
    assert all(m["value"] > 0 for m in res["metrics"].values())


def test_tiny_traced_run_reports_every_layer_metric():
    from perfbench.report import PER_LAYER

    proc = _run(ROOT, "--workload", "parity_w144", "--seed", "3", "--seconds", "1",
                "--trace", "1", "--scale", "tiny")
    assert proc.returncode == 0, proc.stdout + proc.stderr[-3000:]
    metrics = _result(proc)["metrics"]
    assert set(metrics) == set(PER_LAYER)
    assert metrics["encoder.kernel_share"]["value"] > 0
    for name in ("functions.cyclical_datetime_features.force_s", "operators.asof_join.force_s",
                 "plans.curate_tokens.call_s", "streaming.ingest_batch.jobs_per_batch"):
        assert metrics[name]["value"] > 0, name


def test_refuses_to_run_without_the_engine(tmp_path):
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    proc = _run(tmp_path, "--workload", "pit_encode", "--seed", "1", "--seconds", "1",
                "--trace", "0", timeout=180)
    assert proc.returncode not in (0, None)
    assert '"metrics"' not in proc.stdout
