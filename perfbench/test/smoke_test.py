#!/usr/bin/env python3
"""Smoke test: every workload of BENCHMARK.json once at tiny size (sf0.001 and
a 3k-row dump), untraced and traced; asserts that the last line of each run
carries every declared metric, by name, with its unit, and a number.

    python3 perfbench/test/smoke_test.py      (from the repository root)
"""
import json
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parents[2]


def main():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    bad = 0
    for w in spec["workloads"]:
        for trace, declared in ((0, spec["end_to_end"]), (1, spec["per_layer"])):
            p = subprocess.run([*spec["command"], "--workload", w["name"], "--seed", "7",
                                "--seconds", "1", "--trace", str(trace), "--smoke"],
                               cwd=ROOT, capture_output=True, text=True, timeout=900)
            try:
                res = json.loads(p.stdout.strip().splitlines()[-1])
            except (IndexError, json.JSONDecodeError):
                print(f"FAIL {w['name']} trace={trace}: no result (exit {p.returncode})\n{p.stderr[-2000:]}")
                bad += 1
                continue
            errors = [m["name"] for m in declared
                      if res["metrics"].get(m["name"], {}).get("unit") != m["unit"]
                      or not isinstance(res["metrics"][m["name"]].get("value"), (int, float))]
            errors += [k for k in res["metrics"] if k not in {m["name"] for m in declared}]
            ok = p.returncode == 0 and not errors and set(res) == {"correct", "attempted", "failed", "metrics"}
            bad += not ok
            print(f"{'PASS' if ok else 'FAIL'} {w['name']} trace={trace}: {len(res['metrics'])} metrics, "
                  f"correct={res['correct']} attempted={res['attempted']} failed={res['failed']}"
                  + (f" bad={errors}" if errors else ""))
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
