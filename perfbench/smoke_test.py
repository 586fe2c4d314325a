"""Smoke test of the benchmark: run every workload once at the tiny
``smoke`` scale, untraced and traced, and check that the result line
carries every metric BENCHMARK.json names, with its unit, and that every
output was correct.

    python3 perfbench/smoke_test.py            # from the root of a checkout
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def run(workload: str, trace: int) -> dict:
    cmd = [
        sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "1",
        "--seconds", "1", "--trace", str(trace), "--scale", "smoke",
    ]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    if proc.returncode != 0:
        raise AssertionError(f"{cmd} exited {proc.returncode}:\n{proc.stderr[-3000:]}")
    return json.loads(proc.stdout.strip().splitlines()[-1])


def check(result: dict, wanted: list[dict]) -> list[str]:
    errors = []
    if not result["correct"] or result["failed"] or result["attempted"] < 1:
        errors.append(f"outputs: correct={result['correct']} failed={result['failed']} "
                      f"attempted={result['attempted']}")
    got = result["metrics"]
    for m in wanted:
        if m["name"] not in got:
            errors.append(f"missing metric {m['name']}")
        elif got[m["name"]]["unit"] != m["unit"]:
            errors.append(f"{m['name']} unit {got[m['name']]['unit']} != {m['unit']}")
        elif not isinstance(got[m["name"]]["value"], (int, float)):
            errors.append(f"{m['name']} value is not a number")
    extra = set(got) - {m["name"] for m in wanted}
    if extra:
        errors.append(f"metrics not in BENCHMARK.json: {sorted(extra)}")
    return errors


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    failures = 0
    for w in spec["workloads"]:
        for trace, wanted in ((0, spec["end_to_end"]), (1, spec["per_layer"])):
            errors = check(run(w["name"], trace), wanted)
            print(f"{w['name']} trace={trace}: {'ok' if not errors else '; '.join(errors)}")
            failures += bool(errors)
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
