"""Smoke test for the benchmark itself, at tiny input sizes.

    python3 perfbench/smoke.py        (from the repository root, ~7 min)

Checks that every workload runs untraced and traced, that every metric
named in BENCHMARK.json appears with its unit, that the oracle gate
passes, and that a deliberately corrupted oracle digest is reported as a
failure with a non-zero exit code.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def _run(workload: str, trace: int, *extra: str) -> tuple[int, dict, str]:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "7", "--seconds", "1", "--trace", str(trace), "--smoke", *extra],
        capture_output=True, text=True, timeout=600,
    )
    lines = out.stdout.strip().splitlines()
    last = json.loads(lines[-1]) if lines and lines[-1].startswith("{") else {}
    return out.returncode, last, out.stdout + out.stderr


def main() -> int:
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    want = {
        0: {m["name"]: m["unit"] for m in bench["end_to_end"]},
        1: {m["name"]: m["unit"] for m in bench["per_layer"]},
    }
    problems = []
    for wl in bench["workloads"]:
        for trace in (0, 1):
            rc, last, log = _run(wl["name"], trace)
            tag = f"{wl['name']} trace={trace}"
            if rc != 0 or not last.get("correct"):
                problems.append(f"{tag}: exit {rc}, result {last}\n{log[-2000:]}")
                continue
            if set(last) != {"correct", "attempted", "failed", "metrics"}:
                problems.append(f"{tag}: result keys {sorted(last)}")
            got = {k: v["unit"] for k, v in last["metrics"].items()}
            if got != want[trace]:
                problems.append(f"{tag}: metrics {got} != {want[trace]}")
            print(f"ok   {tag}: {len(got)} metrics, attempted {last['attempted']}")
    name = bench["workloads"][0]["name"]
    rc, last, log = _run(name, 0, "--corrupt-oracle")
    if rc == 0 or last.get("correct") is not False or not last.get("failed"):
        problems.append(f"corrupted oracle digest not reported: exit {rc}, {last}")
    else:
        print(f"ok   {name} corrupted oracle: exit {rc}, failed {last['failed']}")
    for p in problems:
        print("FAIL " + p)
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
