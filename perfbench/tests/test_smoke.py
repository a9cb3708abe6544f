"""Tiny-size smoke test of the benchmark itself.

    python3 -m pytest perfbench/tests -q

Each workload runs end to end twice at a few dozen docs: once untraced,
where every end-to-end metric must print with its unit, and once traced with
one committed output row damaged, where every per-layer metric must print
and the output check must fail the run.
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parents[2]
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())
# every workload the benchmark defines, including any BENCHMARK.json leaves out
TINY_DOCS = {"extract_mix": 32, "extract_web": 32, "curate_dedup": 80}


def _run(cwd: Path, *args: str) -> tuple[int, str]:
    proc = subprocess.run(
        [sys.executable, *SPEC["command"][1:], *args],
        cwd=cwd,
        capture_output=True,
        text=True,
        timeout=600,
    )
    return proc.returncode, proc.stdout


def _result(stdout: str) -> dict:
    return json.loads(stdout.strip().splitlines()[-1])


def _assert_metrics(result: dict, declared: list[dict]) -> None:
    metrics = result["metrics"]
    assert set(metrics) == {m["name"] for m in declared}
    for m in declared:
        got = metrics[m["name"]]
        assert got["unit"] == m["unit"], m["name"]
        assert isinstance(got["value"], (int, float)), m["name"]


@pytest.mark.parametrize("workload", sorted(TINY_DOCS))
def test_workload_end_to_end(workload: str) -> None:
    docs = str(TINY_DOCS[workload])
    rc, out = _run(ROOT, "--workload", workload, "--seed", "3", "--seconds", "1", "--trace", "0", "--docs", docs)
    result = _result(out)
    assert rc == 0 and result["correct"] and result["failed"] == 0, out[-2000:]
    assert result["attempted"] >= 1
    _assert_metrics(result, SPEC["end_to_end"])
    assert all(m["value"] > 0 for m in result["metrics"].values())

    rc, out = _run(
        ROOT, "--workload", workload, "--seed", "3", "--seconds", "1", "--trace", "1", "--docs", docs,
        "--corrupt-output",
    )
    result = _result(out)
    assert rc != 0 and not result["correct"] and result["failed"] >= 1, out[-2000:]
    _assert_metrics(result, SPEC["per_layer"])


def test_fails_without_the_program(tmp_path: Path) -> None:
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    for path in SPEC["paths"]:
        shutil.copytree(ROOT / path, tmp_path / path, ignore=shutil.ignore_patterns("__pycache__"))
    rc, out = _run(tmp_path, "--workload", SPEC["workloads"][0]["name"], "--seed", "1", "--seconds", "1", "--trace", "0")
    assert rc != 0
    assert '"metrics"' not in out
