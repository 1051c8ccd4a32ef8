"""Smoke test of the benchmark itself, at tiny input sizes.

    python3 -m pytest perfbench/test_smoke.py -q

Runs every workload untraced and traced through the command line, checks
that each prints every metric of BENCHMARK.json with its unit and correct
results, that the traced run writes spans, and that the command refuses to
run where the checkout has no package. Takes a few minutes: the first run
prepares the tiny inputs and three runs start Spark.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)
WORKLOADS = [w["name"] for w in SPEC["workloads"]]


def bench(args: list[str], cwd: str = ROOT, timeout: float = 900) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, *SPEC["command"][1:], *args],
        cwd=cwd, capture_output=True, text=True, timeout=timeout,
    )


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", WORKLOADS)
def test_workload_prints_every_metric(workload: str, trace: int) -> None:
    p = bench(["--workload", workload, "--seed", "3", "--seconds", "1",
               "--trace", str(trace), "--scale", "tiny"])
    assert p.returncode == 0, p.stdout[-2000:] + p.stderr[-4000:]
    out = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] is True and out["failed"] == 0 and out["attempted"] >= 1
    want = SPEC["per_layer" if trace else "end_to_end"]
    assert set(out["metrics"]) == {m["name"] for m in want}
    for m in want:
        assert out["metrics"][m["name"]]["unit"] == m["unit"], m["name"]
    if not trace:
        assert all(m["value"] > 0 for m in out["metrics"].values()), out["metrics"]
        return
    assert out["metrics"]["trace.spans"]["value"] > 0
    spans = os.path.join(ROOT, ".perfbench", "spans", f"{workload}-s3-tiny.jsonl")
    with open(spans) as f:
        rows = [json.loads(line) for line in f]
    assert len(rows) == out["metrics"]["trace.spans"]["value"]
    assert all(r["end"] >= r["start"] for r in rows)
    assert {"name", "start", "end", "parent", "qid"} <= set(rows[0])


def test_refuses_without_package() -> None:
    bare = os.path.join(ROOT, ".perfbench", "bare-checkout")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    try:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        for path in SPEC["paths"]:
            shutil.copytree(os.path.join(ROOT, path), os.path.join(bare, path),
                            ignore=shutil.ignore_patterns("__pycache__"))
        p = bench(["--workload", WORKLOADS[0], "--seed", "1", "--seconds", "1", "--trace", "0"],
                  cwd=bare, timeout=120)
        assert p.returncode != 0
        assert p.stdout.strip() == ""
    finally:
        shutil.rmtree(bare, ignore_errors=True)
