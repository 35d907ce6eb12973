"""Tiny-mode smoke test of every benchmark workload.

Usage, from the root of the repository:

    python3 perfbench/smoke.py [workload ...]

Runs each workload (both by default) at sf0.001 for one second,
untraced and traced, and fails unless every metric ``BENCHMARK.json``
names is printed with its unit, both as a ``name: value unit`` line and
in the final JSON object, and every output check passed.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def check(workload: str, trace: int, spec: dict) -> list[str]:
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "7", "--seconds", "1", "--trace", str(trace), "--tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    where = f"{workload} --trace {trace}"
    if proc.returncode != 0:
        return [f"{where}: exit {proc.returncode}\n{proc.stderr[-3000:]}"]
    lines = proc.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    errors = []
    if not (result["correct"] and result["failed"] == 0 and result["attempted"] > 0):
        errors.append(f"{where}: output checks failed: {lines[-1][:200]}")
    wanted = spec["per_layer"] if trace else spec["end_to_end"]
    if set(result["metrics"]) != {m["name"] for m in wanted}:
        errors.append(f"{where}: metrics {sorted(result['metrics'])}")
    for m in wanted:
        name, unit = m["name"], m["unit"]
        got = result["metrics"].get(name, {})
        if got.get("unit") != unit or not isinstance(got.get("value"), (int, float)):
            errors.append(f"{where}: {name} in JSON is {got}")
        if not any(ln.startswith(f"{name}: ") and ln.endswith(f" {unit}") for ln in lines):
            errors.append(f"{where}: no '{name}: <value> {unit}' line")
    return errors


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    workloads = sys.argv[1:] or [w["name"] for w in spec["workloads"]]
    errors = []
    for w in workloads:
        for trace in (0, 1):
            found = check(w, trace, spec)
            print(f"{w} --trace {trace}: {'ok' if not found else 'FAILED'}", flush=True)
            errors += found
    for e in errors:
        print(e, file=sys.stderr)
    return 1 if errors else 0


if __name__ == "__main__":
    sys.exit(main())
