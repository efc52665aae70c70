#!/usr/bin/env python3
"""Smoke test for the benchmark: every workload, untraced and traced, at
sf 0.001 with no warm-up and the minimum number of timed passes.

    python3 perfbench/smoke.py

Checks that each run exits 0, reports ``correct``, and prints every metric
``BENCHMARK.json`` names (end-to-end untraced, per-layer traced) with its
unit, both as a ``# metric`` line and in the final JSON line. Exits 1 on
the first mismatch.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def check(workload: str, trace: int, want: dict[str, str]) -> list[str]:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", "1"]
    cmd += ["--seconds", "0", "--trace", str(trace), "--sf", "0.001", "--warmup", "0"]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    if proc.returncode != 0:
        return [f"exit {proc.returncode}: {proc.stderr[-2000:]}"]
    lines = proc.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    errors = [] if result["correct"] and result["failed"] == 0 else [f"not correct: {result}"]
    printed = {ln.split()[2]: ln.split()[-1] for ln in lines if ln.startswith("# metric ")}
    for name, unit in want.items():
        got = result["metrics"].get(name)
        if got is None or got["unit"] != unit:
            errors.append(f"JSON metric {name}: {got}")
        if printed.get(name) != unit:
            errors.append(f"# metric {name}: {printed.get(name)}")
    extra = set(result["metrics"]) - set(want)
    if extra:
        errors.append(f"unlisted metrics: {sorted(extra)}")
    return errors


def main() -> None:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    per_layer = {m["name"]: m["unit"] for m in spec["per_layer"]}
    failed = False
    for wl in (w["name"] for w in spec["workloads"]):
        for trace, want in ((0, e2e), (1, per_layer)):
            errors = check(wl, trace, want)
            print(f"{wl} trace={trace}: {'ok' if not errors else 'FAIL'}", flush=True)
            for e in errors:
                print(f"  {e}")
            failed |= bool(errors)
    sys.exit(1 if failed else 0)


if __name__ == "__main__":
    main()
