"""Self-test of the benchmark command at a tiny page count.

    python3 -m pytest perfbench/tests -q

Each workload runs once untraced and twice traced on the same seed. The
untraced run must print every end-to-end metric of BENCHMARK.json with its
unit; the traced runs every per-layer metric, and the exact counts must
repeat between them. A run whose output disagrees with its oracle, and a
run without the engine sources, must exit non-zero.
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
sys.path.insert(0, str(ROOT / "perfbench"))
sys.path.insert(0, str(ROOT))

from run import oracle_path  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

TINY_PAGES = 600
# counts that a fixed seed must reproduce exactly
EXACT = (
    "text.payloads_per_doc",
    "pipeline.payload_rows",
    "pip.candidates_per_point",
    "pip.matches_per_point",
    "sinks.files_written",
    "spark.jobs",
)


def bench(workload: str, trace: int, cwd: Path = ROOT, seed: int = 3) -> tuple[int, str]:
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", "1", "--trace", str(trace),
         "--pages", str(TINY_PAGES)],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )
    return proc.returncode, proc.stdout


def result(stdout: str) -> dict:
    return json.loads(stdout.strip().splitlines()[-1])


def assert_metrics(res: dict, spec: list[dict]) -> None:
    assert res["correct"] is True
    assert res["attempted"] >= 1 and res["failed"] == 0
    assert set(res["metrics"]) == {m["name"] for m in spec}
    for m in spec:
        got = res["metrics"][m["name"]]
        assert got["unit"] == m["unit"], m["name"]
        assert isinstance(got["value"], float), m["name"]


def test_spec_names_known_workloads():
    assert {w["name"] for w in SPEC["workloads"]} <= set(WORKLOADS)


@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_end_to_end_metrics(workload):
    rc, out = bench(workload, 0)
    assert rc == 0, out
    res = result(out)
    assert_metrics(res, SPEC["end_to_end"])
    for m in SPEC["end_to_end"]:
        assert res["metrics"][m["name"]]["value"] > 0, m["name"]


@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_per_layer_counts_repeat(workload):
    runs = []
    for _ in range(2):
        rc, out = bench(workload, 1)
        assert rc == 0, out
        res = result(out)
        assert_metrics(res, SPEC["per_layer"])
        runs.append({k: v["value"] for k, v in res["metrics"].items()})
    for name in EXACT:
        assert runs[0][name] == runs[1][name], name
    assert runs[0]["pipeline.payload_rows"] > 0
    assert runs[0]["sinks.files_written"] > 0


def test_fails_without_engine(tmp_path):
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    for p in SPEC["paths"]:
        shutil.copytree(ROOT / p, tmp_path / p,
                        ignore=shutil.ignore_patterns("__pycache__"))
    rc, out = bench(sorted(WORKLOADS)[0], 0, cwd=tmp_path)
    assert rc != 0
    assert '"correct"' not in out


def test_wrong_output_fails():
    """A cached oracle digest that the job's output cannot match: the run
    must count the check as failed, report correct false and exit 1."""
    workload, seed = "tiles-200", 4
    oracle = oracle_path(workload, TINY_PAGES, seed)
    oracle.parent.mkdir(parents=True, exist_ok=True)
    oracle.write_text(json.dumps({"digest": "0" * 64, "rows": 1}))
    try:
        rc, out = bench(workload, 0, seed=seed)
    finally:
        oracle.unlink()
    assert rc == 1, out
    res = result(out)
    assert res["correct"] is False
    assert res["failed"] >= 1
