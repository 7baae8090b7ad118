"""Smoke test for the benchmark itself.

    python3 perfbench/smoke.py

Runs every workload at the tiny size with two seeds (untraced) and once
traced, and fails unless each result line carries every metric named in
BENCHMARK.json with its unit, no operation failed, and the traced table
covers every span of the workload. Takes about six minutes on 4 cores.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SEEDS = (7, 8)


def run(workload: str, seed: int, trace: int) -> tuple[dict, dict]:
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", "1", "--trace", str(trace),
         "--size", "tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    if proc.returncode != 0:
        raise AssertionError(
            f"{workload} seed {seed} exited {proc.returncode}: {proc.stderr[-3000:]}"
        )
    lines = proc.stdout.strip().splitlines()
    return json.loads(lines[-2])["detail"], json.loads(lines[-1])


def check_result(label: str, detail: dict, result: dict, specs: list[dict]) -> None:
    assert set(result) == {"correct", "attempted", "failed", "metrics"}, label
    assert result["correct"] is True, (
        f"{label}: {detail['failed_checks']} {detail['errors']}"
    )
    assert result["failed"] == 0 and result["attempted"] >= 1, label
    assert detail["error_rate"] == 0, label
    metrics = result["metrics"]
    assert set(metrics) == {m["name"] for m in specs}, (
        f"{label}: metric names differ: "
        f"{sorted(set(metrics) ^ {m['name'] for m in specs})}"
    )
    for m in specs:
        got = metrics[m["name"]]
        assert got["unit"] == m["unit"], f"{label}: {m['name']} unit {got['unit']}"
        assert isinstance(got["value"], (int, float)), f"{label}: {m['name']}"


def main() -> int:
    sys.path.insert(0, ROOT)
    from perfbench.workloads import SPANS

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    names = [w["name"] for w in bench["workloads"]]
    assert sorted(names) == sorted(SPANS), names
    for workload in names:
        for seed in SEEDS:
            detail, result = run(workload, seed, 0)
            check_result(f"{workload}/{seed}", detail, result, bench["end_to_end"])
            for m in bench["end_to_end"]:
                assert result["metrics"][m["name"]]["value"] > 0, m["name"]
            print(f"ok  {workload} seed {seed} untraced", flush=True)
        detail, result = run(workload, SEEDS[0], 1)
        check_result(f"{workload}/traced", detail, result, bench["per_layer"])
        for span in SPANS[workload]:
            for key in ("wall_s", "jobs"):
                value = result["metrics"][f"{span}.{key}"]["value"]
                assert value > 0 or (key == "jobs" and span.endswith(
                    ("mbtiles_to_dir", "execute_manifest"))), f"{span}.{key} = {value}"
        print(f"ok  {workload} traced ({len(SPANS[workload])} spans)", flush=True)
    print("smoke ok")
    return 0


if __name__ == "__main__":
    sys.exit(main())
