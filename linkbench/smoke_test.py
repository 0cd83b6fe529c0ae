#!/usr/bin/env python3
"""Smoke test of the linkage benchmark.

Runs every workload once at the tiny input size, untraced and traced, and
asserts that each run prints every metric BENCHMARK.json lists for its mode
with the listed unit. One untraced run corrupts the output checksum of its
second pass; that pass must be counted against ok_frac and the run must
report correct = false. Run from the checkout root:

    python3 linkbench/smoke_test.py
"""
import json
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())


def run(workload, trace, *extra):
    cmd = [sys.executable, *SPEC["command"][1:], "--workload", workload, "--seed", "7",
           "--seconds", "1", "--trace", str(trace), "--scale", "tiny", *extra]
    proc = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                          text=True, timeout=600)
    assert proc.returncode == 0, f"{workload} trace={trace}: exit {proc.returncode}"
    return json.loads(proc.stdout.strip().splitlines()[-1])


def check_metrics(result, trace, label):
    expected = {m["name"]: m["unit"] for m in SPEC["per_layer" if trace else "end_to_end"]}
    got = result["metrics"]
    assert set(got) == set(expected), f"{label}: metric names differ: {set(got) ^ set(expected)}"
    for name, unit in expected.items():
        assert got[name]["unit"] == unit, f"{label}: {name} unit {got[name]['unit']} != {unit}"
        assert isinstance(got[name]["value"], (int, float)), f"{label}: {name} not a number"
    assert result["attempted"] >= 1 and result["failed"] == 0, f"{label}: {result}"


def main():
    for w in SPEC["workloads"]:
        name = w["name"]
        for trace in (0, 1):
            label = f"{name} trace={trace}"
            result = run(name, trace)
            check_metrics(result, trace, label)
            assert result["correct"] is True, f"{label}: not correct: {result}"
            if trace == 0:
                assert result["metrics"]["ok_frac"]["value"] == 1.0, label
            print(f"ok  {label}")

    name = SPEC["workloads"][0]["name"]
    result = run(name, 0, "--corrupt-pass", "1")
    check_metrics(result, 0, f"{name} corrupted")
    n = result["attempted"]
    assert result["correct"] is False, result
    assert abs(result["metrics"]["ok_frac"]["value"] - (n - 1) / n) < 1e-9, result
    print(f"ok  {name} corrupted checksum counted in ok_frac ({n - 1}/{n})")


if __name__ == "__main__":
    main()
