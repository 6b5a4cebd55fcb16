"""Smoke test of the benchmark itself.

    python3 perfbench/selftest.py

Runs every workload at a tiny size, untraced and traced, from the
directory that holds ``BENCHMARK.json``. It passes when every run exits
0 with all output checks passing, the printed metric names equal those
declared in ``BENCHMARK.json``, and the traced and untraced runs of one
seed report the same input digest.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
SCALE = "0.1"


def run(workload: str, trace: int) -> tuple[dict, dict]:
    cmd = [
        sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
        "--seed", "7", "--seconds", "1", "--trace", str(trace), "--scale", SCALE,
    ]
    proc = subprocess.run(cmd, capture_output=True, text=True, timeout=600)
    if proc.returncode != 0:
        raise AssertionError(f"{workload} trace={trace} exited {proc.returncode}:\n{proc.stderr[-3000:]}")
    info, result = (json.loads(line) for line in proc.stdout.strip().splitlines()[-2:])
    return info, result


def main() -> int:
    with open("BENCHMARK.json") as f:
        spec = json.load(f)
    declared = {
        0: {m["name"]: m["unit"] for m in spec["end_to_end"]},
        1: {m["name"]: m["unit"] for m in spec["per_layer"]},
    }
    problems = []
    for w in (x["name"] for x in spec["workloads"]):
        digests = set()
        for trace in (0, 1):
            info, result = run(w, trace)
            digests.add(info["input_digest"])
            printed = {k: v["unit"] for k, v in result["metrics"].items()}
            if printed != declared[trace]:
                problems.append(f"{w} trace={trace}: metric names/units differ from BENCHMARK.json")
            if not result["correct"] or result["failed"]:
                problems.append(f"{w} trace={trace}: {result['failed']} failed operations")
            print(f"{w} trace={trace}: attempted={result['attempted']} failed={result['failed']}")
        if len(digests) != 1:
            problems.append(f"{w}: one seed gave two input digests")
    for p in problems:
        print("FAIL", p)
    print("selftest", "failed" if problems else "passed")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
