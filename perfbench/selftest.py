"""Self-test of the benchmark at tiny scale.

    python3 perfbench/selftest.py

For each workload it runs ``run.py --scale tiny --seconds 1`` untraced and
traced (a few ops each) and asserts that the result line carries every
metric ``BENCHMARK.json`` names, with its unit, and that the correctness
checks passed. It then runs the benchmark in a directory holding only
``BENCHMARK.json`` and this package, where it must fail without a result.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def run(cwd: str, workload: str, trace: int) -> subprocess.CompletedProcess:
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    cmd = spec["command"] + [
        "--workload", workload, "--seed", "7", "--seconds", "1",
        "--trace", str(trace), "--scale", "tiny",
    ]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600)


def check_result(proc, expected: dict, label: str) -> None:
    assert proc.returncode == 0, f"{label}: exit {proc.returncode}\n{proc.stderr[-3000:]}"
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert sorted(result) == ["attempted", "correct", "failed", "metrics"], result
    assert result["correct"] is True and result["failed"] == 0, f"{label}: {result}"
    assert result["attempted"] >= 1
    metrics = result["metrics"]
    assert sorted(metrics) == sorted(expected), f"{label}: {sorted(metrics)}"
    for name, unit in expected.items():
        m = metrics[name]
        assert m["unit"] == unit, f"{label}: {name} has unit {m['unit']}, expected {unit}"
        assert isinstance(m["value"], (int, float)) and m["value"] == m["value"], (
            f"{label}: {name} = {m['value']}"
        )


def main() -> int:
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    layers = {m["name"]: m["unit"] for m in spec["per_layer"]}
    for w in spec["workloads"]:
        for trace, expected in ((0, e2e), (1, layers)):
            label = f"{w['name']} --trace {trace}"
            check_result(run(ROOT, w["name"], trace), expected, label)
            print(f"ok  {label}")
    bare = os.path.join(ROOT, ".perfbench_tmp", "selftest-bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    try:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        for path in spec["paths"]:
            shutil.copytree(os.path.join(ROOT, path), os.path.join(bare, path),
                            ignore=shutil.ignore_patterns("__pycache__"))
        proc = run(bare, spec["workloads"][0]["name"], 0)
        assert proc.returncode != 0, "ran without the engine"
        assert '"metrics"' not in proc.stdout, "printed a result without the engine"
        print("ok  fails without the engine")
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
