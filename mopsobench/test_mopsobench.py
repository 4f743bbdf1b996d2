"""Self-tests of the benchmark at tiny sizes.

    python3 -m pytest mopsobench -q -p no:cacheprovider
"""

from __future__ import annotations

import dataclasses
import json
import os
import shutil
import subprocess
import sys
from pathlib import Path

import numpy as np
import pytest

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

from mopso_engine import engine as engine_mod  # noqa: E402
from mopsobench import checks, run, tracing, workloads  # noqa: E402

SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())

TINY = {
    "loop_small": dict(n=300, particles=6, iterations=2),
    "scale_local": dict(n=1200, particles=4, iterations=1),
}


@pytest.fixture
def tiny(tmp_path, monkeypatch):
    """Tiny workload sizes and a private work directory; restores the
    environment variables the run sets."""
    saved = dict(os.environ)
    monkeypatch.setattr(run, "WORK", tmp_path)
    for name, sizes in TINY.items():
        monkeypatch.setitem(workloads.WORKLOADS, name, dataclasses.replace(workloads.WORKLOADS[name], **sizes))
    yield
    os.environ.clear()
    os.environ.update(saved)


def run_bench(capsys, workload: str, trace: int) -> tuple[list[str], dict]:
    rc = run.main(["--workload", workload, "--seed", "7", "--seconds", "0", "--trace", str(trace)])
    out = capsys.readouterr().out.strip().splitlines()
    assert rc == 0
    result = json.loads(out[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    return out, result


def assert_metrics(out: list[str], result: dict, spec: list[dict]) -> None:
    """Exactly the metrics the spec names, each with its unit, each also
    printed by name."""
    assert {name: m["unit"] for name, m in result["metrics"].items()} == {m["name"]: m["unit"] for m in spec}
    for m in spec:
        assert any(line.startswith(f"{m['name']} = ") and line.endswith(f" {m['unit']}") for line in out), m


def test_end_to_end_metrics_printed_with_units(tiny, capsys):
    out, result = run_bench(capsys, "loop_small", 0)
    assert_metrics(out, result, SPEC["end_to_end"])
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 2
    assert all(result["metrics"][m["name"]]["value"] > 0 for m in SPEC["end_to_end"])


def test_traced_run_restores_engine_and_prints_layers(tiny, capsys):
    originals = {(owner, attr): owner.__dict__[attr] for owner, attr, _, _ in tracing.WRAPPED}
    out, result = run_bench(capsys, "scale_local", 1)
    assert {(owner, attr): owner.__dict__[attr] for owner, attr, _, _ in tracing.WRAPPED} == originals
    assert_metrics(out, result, SPEC["per_layer"])
    assert result["correct"] and result["failed"] == 0
    assert result["metrics"]["spark.persisted_rdds_after"]["value"] == 0
    assert result["metrics"]["objectives.fitness_calls"]["value"] == 2  # init pass + 1 iteration
    assert result["metrics"]["trace.span_coverage"]["value"] > 0.5


def test_perturbed_fitness_fails_the_check(tiny, capsys, monkeypatch):
    original = engine_mod.evaluate_solutions

    def perturbed(*args, **kwargs):
        return original(*args, **kwargs) * (1.0 + 1e-4)

    monkeypatch.setattr(engine_mod, "evaluate_solutions", perturbed)
    _, result = run_bench(capsys, "loop_small", 0)
    assert not result["correct"]
    assert result["failed"] == result["attempted"]  # every request, warm-up included


def test_checks_catch_dominated_and_changed_fronts():
    front = np.array([[1.0, 3.0], [2.0, 2.0], [3.0, 1.0]])
    assert checks.check_front(front, checks.fingerprint(front)) == []
    assert checks.check_front(front, checks.fingerprint(front * 2))
    assert checks.check_front(np.vstack([front, [[4.0, 4.0]]]), None)
    rescored = [(s, float(f[0]), float(f[1])) for s, f in enumerate(front)]
    assert checks.check_exact(front, rescored) == []
    assert checks.check_exact(front * (1 + 1e-5), rescored)


def test_fails_without_the_engine(tmp_path):
    """In a directory holding only the benchmark, the run exits non-zero and
    prints no result."""
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    shutil.copytree(ROOT / "mopsobench", tmp_path / "mopsobench", ignore=shutil.ignore_patterns("__pycache__"))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    p = subprocess.run(
        [sys.executable, "mopsobench/run.py", "--workload", "loop_small", "--seed", "1", "--seconds", "1",
         "--trace", "0"],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=120,
    )
    assert p.returncode != 0
    assert '"metrics"' not in p.stdout
